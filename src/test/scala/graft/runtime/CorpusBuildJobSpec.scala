package graft.runtime

import org.apache.spark.sql.functions.col
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkFixture
import graft.model.ExitCodes

/** The hosted corpus-build job (round 14): the full training-data
  * chain — normalize → extract → quality gate → three-tier dedup →
  * decontaminate → mix → pack → shard → manifest — as one env-driven
  * entry point with a per-phase ledger, verified against the same
  * composition the `pipeline_corpus_build` oracle hashes. */
class CorpusBuildJobSpec extends AnyFlatSpec with Matchers with SparkFixture {

  private val dir = "/root/testdata/sf0.001"

  behavior of "CorpusBuildJob"

  it should "build ledger, corpus and manifest from env config" in {
    val out = tempDir("corpus-build")
    val statuses = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = CorpusBuildJob.run(spark, Map(
      "CORPUS_BUILD_DOCS_PATH" -> s"$dir/documents.parquet",
      "CORPUS_BUILD_EMBEDDINGS_PATH" -> s"$dir/embeddings.parquet",
      "CORPUS_BUILD_OUTPUT_PATH" -> out), statuses += _)
    code shouldBe ExitCodes.Success

    // every phase of the chain reported wall time + rows
    Seq("normalize_extract", "token_stats", "quality_gate", "dedup_decision",
      "decontaminate", "sample_mix", "pack", "shard", "manifest", "ledger",
      "write_outputs").foreach { p =>
      withClue(s"phase $p: ") {
        statuses.exists(_.startsWith(s"phase $p:")) shouldBe true
      }
    }

    // the written ledger IS the oracle composition (text dropped there too)
    val expected = graft.ext.ExtQueries.pipelineCorpusBuild(spark, dir)
    val written = spark.read.parquet(s"$out/ledger")
    written.columns.sorted shouldBe expected.columns.sorted
    val cols = expected.columns.sorted.map(col)
    written.select(cols: _*).collect().map(_.toString).sorted shouldBe
      expected.select(cols: _*).collect().map(_.toString).sorted

    val keeps = expected.filter(col("verdict") === "keep")
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // corpus slice: exactly the kept docs, WITH text, hive-partitioned
    // by shard with contiguous pos inside each shard
    val corpus = spark.read.parquet(s"$out/corpus")
    corpus.collect().map(_.getAs[Long]("doc_id")).toSet shouldBe keeps
    corpus.filter(col("text").isNull).count() shouldBe 0L
    new java.io.File(s"$out/corpus").listFiles()
      .exists(_.getName.startsWith("shard=")) shouldBe true
    corpus.groupBy("shard")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.max("pos").as("mx"),
        org.apache.spark.sql.functions.min("pos").as("mn"))
      .collect().foreach { r =>
        r.getAs[Long]("mn") shouldBe 1L
        r.getAs[Long]("mx") shouldBe r.getAs[Long]("n")
      }

    // manifest: one row per kept source, matching the ledger's columns
    val man = spark.read.parquet(s"$out/manifest")
    val fromLedger = expected.filter(col("verdict") === "keep")
      .select("source", "m_docs", "m_chars", "content_version")
      .distinct().collect().map(_.toString).sorted
    man.collect().map(_.toString).sorted shouldBe fromLedger
    man.count() shouldBe man.select("source").distinct().count()
  }

  private def baseEnv(out: String): Map[String, String] = Map(
    "CORPUS_BUILD_DOCS_PATH" -> s"$dir/documents.parquet",
    "CORPUS_BUILD_EMBEDDINGS_PATH" -> s"$dir/embeddings.parquet",
    "CORPUS_BUILD_OUTPUT_PATH" -> out)

  private def ledgerRows(path: String): Array[String] = {
    val df = spark.read.parquet(path)
    val cols = df.columns.sorted.map(col)
    df.select(cols: _*).collect().map(_.toString).sorted
  }

  it should "gate with the bootstrapped classifier when CORPUS_BUILD_QUALITY=classifier" in {
    val out = tempDir("corpus-build-clf")
    CorpusBuildJob.run(spark,
      baseEnv(out) + ("CORPUS_BUILD_QUALITY" -> "classifier"),
      _ => ()) shouldBe ExitCodes.Success
    val expected = graft.ext.ExtQueries.pipelineCorpusBuildClf(spark, dir)
    val cols = expected.columns.sorted.map(col)
    ledgerRows(s"$out/ledger") shouldBe
      expected.select(cols: _*).collect().map(_.toString).sorted
  }

  it should "produce the same ledger under every materializer mode" in {
    val ledgers = Seq("stage", "local", "none").map { m =>
      val out = tempDir(s"corpus-build-$m")
      CorpusBuildJob.run(spark,
        baseEnv(out) + ("CORPUS_BUILD_MATERIALIZE" -> m),
        _ => ()) shouldBe ExitCodes.Success
      m -> ledgerRows(s"$out/ledger")
    }
    for (Seq((ma, a), (mb, b)) <- ledgers.combinations(2)) {
      val (sa, sb) = (a.toSet, b.toSet)
      withClue(s"$ma vs $mb: only-$ma=${sa.diff(sb).take(2).mkString("; ")} " +
          s"only-$mb=${sb.diff(sa).take(2).mkString("; ")}: ") {
        a shouldBe b
      }
    }
  }

  it should "resume from finished stage files after a simulated crash" in {
    val out = tempDir("corpus-build-resume")
    CorpusBuildJob.run(spark, baseEnv(out), _ => ()) shouldBe ExitCodes.Success
    val expected = ledgerRows(s"$out/ledger")

    // simulate a crash after the early stages: final outputs and the
    // late stages are gone, early stage files survive
    for (p <- Seq("ledger", "corpus", "manifest", "stages/ledger", "stages/shard"))
      graft.ext.SignatureStore.deleteStore(java.nio.file.Paths.get(s"$out/$p"))

    val statuses = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.run(spark,
      baseEnv(out) + ("CORPUS_BUILD_RESUME" -> "true"),
      statuses += _) shouldBe ExitCodes.Success

    // surviving stages are reused, deleted ones recomputed
    statuses.exists(s => s.startsWith("phase normalize_extract:") &&
      s.contains("(resumed")) shouldBe true
    statuses.exists(s => s.startsWith("phase dedup_decision:") &&
      s.contains("(resumed")) shouldBe true
    statuses.exists(s => s.startsWith("phase shard:") &&
      s.contains("(resumed")) shouldBe false
    statuses.exists(s => s.startsWith("phase ledger:") &&
      s.contains("(resumed")) shouldBe false

    ledgerRows(s"$out/ledger") shouldBe expected
  }

  it should "pack the kept corpus by stored-tokenizer BPE ids when CORPUS_BUILD_TOKENIZER_PATH is set (round 17)" in {
    // the artifact a deployment ships: train once, build packs by it
    val tokRoot = tempDir("corpus-build-tok")
    graft.ext.TokenizerStore.train(
      spark.read.parquet(s"$dir/documents.parquet").select("text"),
      "text", tokRoot, steps = 8)
    val out = tempDir("corpus-build-bpe")
    val statuses = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.run(spark,
      baseEnv(out) + ("CORPUS_BUILD_TOKENIZER_PATH" -> tokRoot),
      statuses += _) shouldBe ExitCodes.Success
    statuses.exists(_.startsWith("phase bpe_pack:")) shouldBe true
    // the artifact equals the library composition over the kept corpus
    val tok = graft.ext.TokenizerStore.load(spark, tokRoot)
    val kept = spark.read.parquet(s"$out/corpus")
      .select("doc_id", "source", "text")
    val expected = graft.ext.ExtQueries.packBpeOf(
      graft.ext.TokenizerStore.encodeIds(kept, "text", tok)
        .filter(col("n_bpe_tokens") > 0L))
    val got = spark.read.parquet(s"$out/bpe_sequences")
    got.columns.sorted shouldBe expected.columns.sorted
    val cols = expected.columns.sorted.map(col)
    got.select(cols: _*).collect().map(_.toString).sorted shouldBe
      expected.select(cols: _*).collect().map(_.toString).sorted
    // sequences respect the 128-token budget shape: every full
    // sequence's fill is positive and docs are non-empty
    got.filter(col("seq_tokens") <= 0L).count() shouldBe 0L
  }

  it should "retrain a drifted tokenizer under CORPUS_BUILD_TOK_DRIFT (round 19)" in {
    import spark.implicits._
    // a store whose baseline profile cannot match the fixture corpus:
    // trained on 'the'-dominated English — the kept fixture corpus is
    // majority es/fr under the trained verdict, so `auto` must trip
    // the mass rule and retrain under the build's own output root
    val tokRoot = tempDir("tokdrift-store")
    graft.ext.TokenizerStore.train(
      (1 to 10).map(i => (i.toLong, "the the the the the the the the"))
        .toSeq.toDF("doc_id", "text"),
      "text", tokRoot, steps = 8)

    // auto (default): trips, retrains into $out/tokenizer_store, packs
    // with the retrained artifact
    val outA = tempDir("tokdrift-auto")
    val stA = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.run(spark,
      baseEnv(outA) + ("CORPUS_BUILD_TOKENIZER_PATH" -> tokRoot),
      stA += _) shouldBe ExitCodes.Success
    stA.exists(_.contains("tokenizer drift gate: RETRAIN")) shouldBe true
    new java.io.File(s"$outA/tokenizer_store/tokenizer.json")
      .exists() shouldBe true
    val retrained = graft.ext.TokenizerStore.load(spark, s"$outA/tokenizer_store")
    val kept = spark.read.parquet(s"$outA/corpus")
      .select("doc_id", "source", "text")
    val expA = graft.ext.ExtQueries.packBpeOf(
      graft.ext.TokenizerStore.encodeIds(kept, "text", retrained)
        .filter(col("n_bpe_tokens") > 0L))
    val colsA = expA.columns.sorted.map(col)
    spark.read.parquet(s"$outA/bpe_sequences").select(colsA: _*)
      .collect().map(_.toString).sorted shouldBe
      expA.select(colsA: _*).collect().map(_.toString).sorted

    // off: the drifted store is used as-is, nothing retrained
    val outO = tempDir("tokdrift-off")
    val stO = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.run(spark,
      baseEnv(outO) + ("CORPUS_BUILD_TOKENIZER_PATH" -> tokRoot,
        "CORPUS_BUILD_TOK_DRIFT" -> "off"),
      stO += _) shouldBe ExitCodes.Success
    stO.exists(_.contains("tokenizer drift gate")) shouldBe false
    new java.io.File(s"$outO/tokenizer_store").exists() shouldBe false
    val stored = graft.ext.TokenizerStore.load(spark, tokRoot)
    val keptO = spark.read.parquet(s"$outO/corpus")
      .select("doc_id", "source", "text")
    val expO = graft.ext.ExtQueries.packBpeOf(
      graft.ext.TokenizerStore.encodeIds(keptO, "text", stored)
        .filter(col("n_bpe_tokens") > 0L))
    spark.read.parquet(s"$outO/bpe_sequences").select(colsA: _*)
      .collect().map(_.toString).sorted shouldBe
      expO.select(colsA: _*).collect().map(_.toString).sorted

    // force: retrains even when the gate would stay quiet (a store
    // trained on the corpus itself)
    val tokStable = tempDir("tokdrift-stable-store")
    graft.ext.TokenizerStore.train(
      spark.read.parquet(s"$dir/documents.parquet").select("text"),
      "text", tokStable, steps = 8)
    val outF = tempDir("tokdrift-force")
    val stF = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.run(spark,
      baseEnv(outF) + ("CORPUS_BUILD_TOKENIZER_PATH" -> tokStable,
        "CORPUS_BUILD_TOK_DRIFT" -> "force"),
      stF += _) shouldBe ExitCodes.Success
    stF.exists(_.contains("CORPUS_BUILD_TOK_DRIFT=force")) shouldBe true
    new java.io.File(s"$outF/tokenizer_store/tokenizer.json")
      .exists() shouldBe true

    // bad value: Fatal
    CorpusBuildJob.run(spark,
      baseEnv(tempDir("tokdrift-bad")) +
        ("CORPUS_BUILD_TOKENIZER_PATH" -> tokRoot,
          "CORPUS_BUILD_TOK_DRIFT" -> "bogus"),
      _ => ()) shouldBe ExitCodes.Fatal
  }

  it should "honor the benchmark boundary knob" in {
    val out = tempDir("corpus-build-bench40")
    CorpusBuildJob.run(spark,
      baseEnv(out) + ("CORPUS_BUILD_BENCHMARK_MAX_ID" -> "40"),
      _ => ()) shouldBe ExitCodes.Success
    val ids = spark.read.parquet(s"$out/ledger")
      .select("doc_id").collect().map(_.getLong(0))
    ids.min should be >= 40L
  }

  // write an EDITED copy of the fixture corpus: src1 docs appended-to
  // (changed), one new doc in src2 (changed), src3 removed entirely,
  // everything else byte-identical
  private def editedDocs(outPath: String): Unit = {
    import org.apache.spark.sql.functions.{concat, lit => flit, when => fwhen}
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source") =!= "src3")
      .withColumn("text",
        fwhen(col("source") === "src1", concat(col("text"), flit(" edited")))
          .otherwise(col("text")))
    val add = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source") === "src2").limit(1)
      .withColumn("doc_id", flit(999900L))
      .withColumn("text", concat(col("text"), flit(" brand new")))
    d.unionByName(add).coalesce(1).write.mode("overwrite").parquet(outPath)
  }

  it should "diff two persisted build outputs' manifests (VERDICT r15 #3)" in {
    val outA = tempDir("corpus-build-diff-a")
    val outB = tempDir("corpus-build-diff-b")
    val docsB = tempDir("corpus-build-diff-docs")
    editedDocs(docsB)
    CorpusBuildJob.run(spark, baseEnv(outA), _ => ()) shouldBe ExitCodes.Success
    CorpusBuildJob.run(spark,
      baseEnv(outB) + ("CORPUS_BUILD_DOCS_PATH" -> docsB),
      _ => ()) shouldBe ExitCodes.Success

    // the RAW-corpus surface sees exactly the planted edits
    val inDiff = CorpusBuildJob.diffManifests(spark, outA, outB, "input_manifest")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    inDiff("src1") shouldBe "changed"
    inDiff("src2") shouldBe "changed"
    inDiff("src3") shouldBe "removed"
    inDiff("src4") shouldBe "unchanged"
    inDiff("src5") shouldBe "unchanged"

    // the BUILT-corpus surface: untouched sources carry identical
    // built slices — the whole-pipeline determinism the manifest
    // artifact exists to witness (src1's edit lands as 'changed')
    val diff = CorpusBuildJob.diffManifests(spark, outA, outB)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList
    diff.filter(_._1 == "src1").map(_._2) shouldBe List("changed")
    // src3 was removed from the input; if it had kept docs in build A
    // it must report removed in the built surface too
    val aSources = spark.read.parquet(s"$outA/manifest")
      .select("source").collect().map(_.getString(0)).toSet
    if (aSources("src3"))
      diff.filter(_._1 == "src3").map(_._2) shouldBe List("removed")
    diff.count(_._2 == "unchanged") should be > 5
  }

  it should "rebuild incrementally: spliced stages + store-backed dedup ≡ full recompute (VERDICT r15 #4 / r16 #1)" in {
    val outPrior = tempDir("corpus-build-incr-prior")
    val outFull = tempDir("corpus-build-incr-full")
    val outIncr = tempDir("corpus-build-incr-incr")
    val docsB = tempDir("corpus-build-incr-docs")
    editedDocs(docsB)

    CorpusBuildJob.run(spark, baseEnv(outPrior), _ => ()) shouldBe ExitCodes.Success
    // the full build persisted its dedup state
    Seq("sig", "near_pairs", "centroids", "sem_asg", "sem_pairs").foreach { t =>
      withClue(s"dedup_state/$t: ") {
        new java.io.File(s"$outPrior/dedup_state/$t/_SUCCESS").exists() shouldBe true
      }
    }
    CorpusBuildJob.run(spark,
      baseEnv(outFull) + ("CORPUS_BUILD_DOCS_PATH" -> docsB),
      _ => ()) shouldBe ExitCodes.Success

    val statuses = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.run(spark,
      baseEnv(outIncr) ++ Map(
        "CORPUS_BUILD_DOCS_PATH" -> docsB,
        "CORPUS_BUILD_INCREMENTAL" -> "true",
        "CORPUS_BUILD_PRIOR_PATH" -> outPrior),
      statuses += _) shouldBe ExitCodes.Success

    // the reuse actually happened (17 of 19 surviving sources unchanged)
    statuses.exists(s => s.startsWith("incremental:") &&
      s.contains("17 unchanged sources")) shouldBe true

    // The equality contract (DedupState scaladoc): the planted edits
    // CHANGE the gated embedding set (src3's vectors depart), so a full
    // rebuild retrains the semantic quantizer while the incremental
    // build keeps the prior geometry (train-once, encode-only — the
    // documented divergence). The incremental ledger must therefore be
    // bit-identical to the full recompute UNDER THE PRIOR QUANTIZER —
    // keeper election, spliced stages, pair reuse and all:
    val d0B = spark.read.parquet(docsB)
      .select(col("doc_id").cast("long").as("doc_id"), col("source"), col("text"))
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val priorCents = spark.read.parquet(s"$outPrior/dedup_state/centroids")
    val reference = graft.ext.ExtQueries.corpusBuildLedger(d0B, e,
      semCents = Some(priorCents)).drop("text")
    val cols = reference.columns.sorted.map(col)
    ledgerRows(s"$outIncr/ledger") shouldBe
      reference.select(cols: _*).collect().map(_.toString).sorted

    // exact + near tiers are bit-identical to the PLAIN full rebuild
    // too (edges spliced, components + keepers re-elected globally):
    def exactNear(path: String): Array[String] =
      spark.read.parquet(path)
        .filter(col("decision").isin("drop_exact", "drop_near"))
        .select("doc_id", "decision", "keeper_id")
        .collect().map(_.toString).sorted
    exactNear(s"$outIncr/stages/dedup_decision") shouldBe
      exactNear(s"$outFull/stages/dedup_decision")

    // the spliced per-doc stages equal the full build's
    ledgerRows(s"$outIncr/stages/normalize_extract") shouldBe
      ledgerRows(s"$outFull/stages/normalize_extract")
    ledgerRows(s"$outIncr/stages/token_stats") shouldBe
      ledgerRows(s"$outFull/stages/token_stats")
  }

  it should "rebuild incrementally bit-identical to the full job when the embedded set is unchanged" in {
    // embeddings restricted to sources the edits never touch: the full
    // rebuild then trains the same quantizer the prior build persisted
    // (same seeded algorithm, same inputs), so incremental ≡ full
    // JOB-VS-JOB with no divergence anywhere.
    val embR = tempDir("corpus-build-incr2-emb")
    spark.read.parquet(s"$dir/embeddings.parquet")
      .join(spark.read.parquet(s"$dir/documents.parquet")
          .filter(!col("source").isin("src1", "src2", "src3"))
          .select(col("doc_id").as("vec_id")),
        Seq("vec_id"))
      .write.mode("overwrite").parquet(embR)
    val outPrior = tempDir("corpus-build-incr2-prior")
    val outFull = tempDir("corpus-build-incr2-full")
    val outIncr = tempDir("corpus-build-incr2-incr")
    val docsB = tempDir("corpus-build-incr2-docs")
    editedDocs(docsB)
    // benchmark boundary 1: the slice is doc 0 only (src0 — untouched
    // by the edits), so the round-17 decontamination splice is ACTIVE
    // and the job-vs-job bit equality below validates it end to end
    def env(out: String) = baseEnv(out) ++ Map(
      "CORPUS_BUILD_EMBEDDINGS_PATH" -> embR,
      "CORPUS_BUILD_BENCHMARK_MAX_ID" -> "1")

    CorpusBuildJob.run(spark, env(outPrior), _ => ()) shouldBe ExitCodes.Success
    CorpusBuildJob.run(spark,
      env(outFull) + ("CORPUS_BUILD_DOCS_PATH" -> docsB),
      _ => ()) shouldBe ExitCodes.Success
    val statuses = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.run(spark,
      env(outIncr) ++ Map(
        "CORPUS_BUILD_DOCS_PATH" -> docsB,
        "CORPUS_BUILD_INCREMENTAL" -> "true",
        "CORPUS_BUILD_PRIOR_PATH" -> outPrior),
      statuses += _) shouldBe ExitCodes.Success
    statuses.exists(_.contains("decontamination splices prior n_hits")) shouldBe true

    ledgerRows(s"$outIncr/ledger") shouldBe ledgerRows(s"$outFull/ledger")
    ledgerRows(s"$outIncr/stages/dedup_decision") shouldBe
      ledgerRows(s"$outFull/stages/dedup_decision")
  }

  it should "chain incremental builds: week 3 against week 2's incremental state equals a full rebuild" in {
    // the dedup_state an INCREMENTAL build writes must be as complete
    // as a full build's (signatures for reused+fresh docs, every
    // current candidate pair's verdict, carried quantizer, per-cell
    // semantic pairs) — proven by chaining: prior → incr(edit src1) →
    // incr(ALSO edit src4, prior = the first incremental's root),
    // compared job-vs-job against a full rebuild of the week-3 corpus.
    // Embeddings restricted away from every edited source so the
    // quantizer is stable and job-vs-job equality is exact.
    import org.apache.spark.sql.functions.{concat, lit => flit, when => fwhen}
    val embR = tempDir("corpus-build-chain-emb")
    spark.read.parquet(s"$dir/embeddings.parquet")
      .join(spark.read.parquet(s"$dir/documents.parquet")
          .filter(!col("source").isin("src1", "src2", "src3", "src4"))
          .select(col("doc_id").as("vec_id")),
        Seq("vec_id"))
      .write.mode("overwrite").parquet(embR)
    val docsW2 = tempDir("corpus-build-chain-docs2")
    editedDocs(docsW2) // src1 edited, src3 removed
    val docsW3 = tempDir("corpus-build-chain-docs3")
    spark.read.parquet(docsW2)
      .withColumn("text",
        fwhen(col("source") === "src4", concat(col("text"), flit(" wk3")))
          .otherwise(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(docsW3)
    def env(out: String, docs: String) = Map(
      "CORPUS_BUILD_DOCS_PATH" -> docs,
      "CORPUS_BUILD_EMBEDDINGS_PATH" -> embR,
      "CORPUS_BUILD_OUTPUT_PATH" -> out,
      "CORPUS_BUILD_BENCHMARK_MAX_ID" -> "1")
    val (w1, w2, w3, w3full) = (tempDir("corpus-build-chain-w1"),
      tempDir("corpus-build-chain-w2"), tempDir("corpus-build-chain-w3"),
      tempDir("corpus-build-chain-w3full"))
    CorpusBuildJob.run(spark,
      env(w1, s"$dir/documents.parquet"), _ => ()) shouldBe ExitCodes.Success
    CorpusBuildJob.run(spark, env(w2, docsW2) ++ Map(
      "CORPUS_BUILD_INCREMENTAL" -> "true",
      "CORPUS_BUILD_PRIOR_PATH" -> w1), _ => ()) shouldBe ExitCodes.Success
    val statuses = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.run(spark, env(w3, docsW3) ++ Map(
      "CORPUS_BUILD_INCREMENTAL" -> "true",
      "CORPUS_BUILD_PRIOR_PATH" -> w2), statuses += _) shouldBe ExitCodes.Success
    // week 3 reused week 2's state (src4 newly changed, src1 now stable)
    statuses.exists(s => s.startsWith("incremental:") &&
      s.contains("unchanged sources reuse prior")) shouldBe true
    CorpusBuildJob.run(spark, env(w3full, docsW3), _ => ()) shouldBe ExitCodes.Success
    ledgerRows(s"$w3/ledger") shouldBe ledgerRows(s"$w3full/ledger")
    ledgerRows(s"$w3/stages/dedup_decision") shouldBe
      ledgerRows(s"$w3full/stages/dedup_decision")
  }

  it should "recompute decontamination for every kept doc when the benchmark slice was edited" in {
    // default boundary 20: the slice spans all 20 sources, including
    // the edited src1 and removed src3 — the conservative guard must
    // fall back instead of splicing against a CHANGED benchmark set
    val outPrior = tempDir("corpus-build-bench-touch-prior")
    val docsB = tempDir("corpus-build-bench-touch-docs")
    editedDocs(docsB)
    CorpusBuildJob.run(spark, baseEnv(outPrior), _ => ()) shouldBe ExitCodes.Success
    val statuses = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.run(spark,
      baseEnv(tempDir("corpus-build-bench-touch-incr")) ++ Map(
        "CORPUS_BUILD_DOCS_PATH" -> docsB,
        "CORPUS_BUILD_INCREMENTAL" -> "true",
        "CORPUS_BUILD_PRIOR_PATH" -> outPrior),
      statuses += _) shouldBe ExitCodes.Success
    statuses.exists(_.contains("benchmark slice touched by edits")) shouldBe true
    statuses.exists(_.contains("decontamination splices prior n_hits")) shouldBe false
  }

  it should "demote a text-unchanged source to changed when its embeddings differ" in {
    val outPrior = tempDir("corpus-build-demote-prior")
    val outIncr = tempDir("corpus-build-demote-incr")
    CorpusBuildJob.run(spark, baseEnv(outPrior), _ => ()) shouldBe ExitCodes.Success
    // re-embed src5 only (scale its vectors); text untouched
    val embB = tempDir("corpus-build-demote-emb")
    val src5 = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source") === "src5").select(col("doc_id").as("vec_id"))
    spark.read.parquet(s"$dir/embeddings.parquet")
      .join(src5.withColumn("hit", org.apache.spark.sql.functions.lit(1)),
        Seq("vec_id"), "left")
      .withColumn("embedding",
        org.apache.spark.sql.functions.when(col("hit") === 1,
          org.apache.spark.sql.functions.expr("transform(embedding, x -> x * 2.0f)"))
          .otherwise(col("embedding")))
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(embB)
    val statuses = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.run(spark,
      baseEnv(outIncr) ++ Map(
        "CORPUS_BUILD_EMBEDDINGS_PATH" -> embB,
        "CORPUS_BUILD_INCREMENTAL" -> "true",
        "CORPUS_BUILD_PRIOR_PATH" -> outPrior),
      statuses += _) shouldBe ExitCodes.Success
    statuses.exists(s => s.contains("DEMOTED") && s.contains("src5")) shouldBe true
    // demoted ⇒ src5 recomputes: 19 unchanged, not 20
    statuses.exists(s => s.startsWith("incremental:") &&
      s.contains("19 unchanged sources")) shouldBe true
  }

  it should "refuse to resume over changed inputs or a changed build config (round 16)" in {
    val out = tempDir("corpus-build-resume-guard")
    CorpusBuildJob.run(spark, baseEnv(out), _ => ()) shouldBe ExitCodes.Success
    // simulate the crash shape: late stages gone, early stage files kept
    for (p <- Seq("ledger", "corpus", "manifest", "stages/ledger", "stages/shard"))
      graft.ext.SignatureStore.deleteStore(java.nio.file.Paths.get(s"$out/$p"))

    // changed build config: the recorded benchmark boundary differs
    val reports = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.run(spark,
      baseEnv(out) ++ Map("CORPUS_BUILD_RESUME" -> "true",
        "CORPUS_BUILD_BENCHMARK_MAX_ID" -> "40"),
      reports += _) shouldBe ExitCodes.Fatal
    reports.mkString should include("build configuration changed")

    // changed input corpus: stage frames hold the OLD input
    val docsB = tempDir("corpus-build-resume-guard-docs")
    editedDocs(docsB)
    val reports2 = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.run(spark,
      baseEnv(out) ++ Map("CORPUS_BUILD_RESUME" -> "true",
        "CORPUS_BUILD_DOCS_PATH" -> docsB),
      reports2 += _) shouldBe ExitCodes.Fatal
    reports2.mkString should include("input corpus changed")

    // unchanged inputs + config still resume fine
    CorpusBuildJob.run(spark,
      baseEnv(out) + ("CORPUS_BUILD_RESUME" -> "true"),
      _ => ()) shouldBe ExitCodes.Success
  }

  it should "fail fast when incremental preconditions are missing" in {
    val out = tempDir("corpus-build-incr-bad")
    // no prior path
    CorpusBuildJob.run(spark,
      baseEnv(out) + ("CORPUS_BUILD_INCREMENTAL" -> "true"),
      _ => ()) shouldBe ExitCodes.Fatal
    // prior root that is not a build output
    CorpusBuildJob.run(spark,
      baseEnv(out) ++ Map(
        "CORPUS_BUILD_INCREMENTAL" -> "true",
        "CORPUS_BUILD_PRIOR_PATH" -> tempDir("corpus-build-incr-empty")),
      _ => ()) shouldBe ExitCodes.Fatal
    // incremental demands stage materialization
    CorpusBuildJob.run(spark,
      baseEnv(out) ++ Map(
        "CORPUS_BUILD_INCREMENTAL" -> "true",
        "CORPUS_BUILD_PRIOR_PATH" -> out,
        "CORPUS_BUILD_MATERIALIZE" -> "local"),
      _ => ()) shouldBe ExitCodes.Fatal
    // a prior root without persisted dedup state (pre-round-17 build)
    val outOld = tempDir("corpus-build-incr-oldprior")
    CorpusBuildJob.run(spark, baseEnv(outOld), _ => ()) shouldBe ExitCodes.Success
    graft.ext.SignatureStore.deleteStore(
      java.nio.file.Paths.get(s"$outOld/dedup_state"))
    val reports = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.run(spark,
      baseEnv(tempDir("corpus-build-incr-oldprior-out")) ++ Map(
        "CORPUS_BUILD_INCREMENTAL" -> "true",
        "CORPUS_BUILD_PRIOR_PATH" -> outOld),
      reports += _) shouldBe ExitCodes.Fatal
    reports.mkString should include("dedup_state")
  }

  it should "exit Fatal on misconfiguration" in {
    CorpusBuildJob.run(spark, Map(
      "CORPUS_BUILD_DOCS_PATH" -> s"$dir/documents.parquet"),
      _ => ()) shouldBe ExitCodes.Fatal
    val out = tempDir("corpus-build-badmode")
    CorpusBuildJob.run(spark,
      baseEnv(out) + ("CORPUS_BUILD_MATERIALIZE" -> "bogus"),
      _ => ()) shouldBe ExitCodes.Fatal
    CorpusBuildJob.run(spark,
      baseEnv(out) + ("CORPUS_BUILD_QUALITY" -> "bogus"),
      _ => ()) shouldBe ExitCodes.Fatal
    // lang-rate grammar (round 19): entries must be lang:pct
    CorpusBuildJob.run(spark,
      baseEnv(out) + ("CORPUS_BUILD_LANG_RATES" -> "en-50"),
      _ => ()) shouldBe ExitCodes.Fatal
  }

  it should "refuse to run against a root another writer holds" in {
    val out = tempDir("corpus-build-leased")
    val code = graft.ext.StoreMeta.withWriterLease(spark, out, "other-writer") {
      CorpusBuildJob.run(spark, Map(
        "CORPUS_BUILD_DOCS_PATH" -> s"$dir/documents.parquet",
        "CORPUS_BUILD_EMBEDDINGS_PATH" -> s"$dir/embeddings.parquet",
        "CORPUS_BUILD_OUTPUT_PATH" -> out), _ => ())
    }
    code shouldBe ExitCodes.Fatal
  }

  // -------------------------------------------------------------------
  // STREAMING-BUILD FINALIZE (round 18, VERDICT r17 #3)
  // -------------------------------------------------------------------

  behavior of "CorpusBuildJob.finalizeStream"

  it should "turn a real streamed ledger into the batch build's artifacts (cross-pipeline equality)" in {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, lit => flit}
    // A fixture where batch and stream DECIDE identically by
    // construction (no duplicates, every doc passes both quality
    // gates, mixture 100%, one planted contamination), so the kept
    // sets coincide and the artifact comparison isolates exactly what
    // finalize claims: the pack/shard/manifest last mile is the batch
    // build's stage arithmetic, bit for bit.
    val benchText = "held out benchmark question about the golden ratio " +
      "of spiral galaxies and their luminous arms rotating slowly"
    val mk = (i: Int, salt: String) =>
      s"document number $salt opens with its own particular subject and " +
        s"then continues through several plain prose sentences about topic " +
        s"$salt item$i detail$i aspect$i feature$i closing remark $salt"
    val docsRaw = (Seq((1L, benchText, "src0")) ++
      Seq(20L -> "alpha", 21L -> "bravo", 22L -> "carbon", 23L -> "delta",
        25L -> "echo", 26L -> "foxtrot", 27L -> "gamma").map { case (id, w) =>
        (id, mk(id.toInt, w), if (id % 2 == 0) "src0" else "src2")
      } :+
      // id 24: shares the bench doc's text wholesale -> >=5 distinct
      // 3-shingle hits -> drop_contaminated in BOTH pipelines
      ((24L, benchText + " with additional trailing commentary appended here", "src0")))
      .toDF("doc_id", "text", "source")
    val rawDir = tempDir("cfin-docs-raw")
    docsRaw.coalesce(1).write.mode("overwrite").parquet(rawDir)
    // orthogonal one-hot embeddings: cosine 0 between all corpus docs,
    // so the batch semantic tier keeps everything (the stream arrives
    // without vectors and skips the tier — same outcome)
    val embDir = tempDir("cfin-emb")
    docsRaw.select(col("doc_id").as("vec_id"),
        array((0 until 10).map(i =>
          org.apache.spark.sql.functions.when(
            col("doc_id") % 10 === i, flit(1.0f)).otherwise(flit(0.0f))): _*)
          .as("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(embDir)

    // the deployment's precomputed artifacts: extracted corpus (what
    // the stream consumes AND what finalize re-reads: EXTRACT=false)
    // and the benchmark shingle set, both derived with the batch
    // build's own stage code
    val ext = graft.ext.ExtQueries.extractStageOf(docsRaw)
    val corpDir = tempDir("cfin-docs-ext")
    ext.filter(col("doc_id") >= 20L)
      .coalesce(1).write.mode("overwrite").parquet(corpDir)
    val benchDir = tempDir("cfin-bench")
    graft.ext.Dedup.shingleRows(ext.filter(col("doc_id") < 20L), "doc_id", "text")
      .select("s").distinct()
      .coalesce(1).write.mode("overwrite").parquet(benchDir)

    // 1: the BATCH build over the raw fixture
    val outB = tempDir("cfin-batch-out")
    CorpusBuildJob.run(spark, Map(
      "CORPUS_BUILD_DOCS_PATH" -> rawDir,
      "CORPUS_BUILD_EMBEDDINGS_PATH" -> embDir,
      "CORPUS_BUILD_OUTPUT_PATH" -> outB), _ => ()) shouldBe ExitCodes.Success

    // 2: the HOSTED STREAM over the extracted corpus
    val storeDir = tempDir("cfin-store")
    val spec =
      s"""{
         |  "sourcePath": "$corpDir",
         |  "schemaDdl": "doc_id BIGINT, source STRING, text STRING",
         |  "storePath": "$storeDir",
         |  "checkpointPath": "${tempDir("cfin-ckpt")}",
         |  "benchmarkShinglesPath": "$benchDir",
         |  "stopAfterBackfill": true
         |}""".stripMargin
    GraftMain.run(spark, Map(
      graft.model.StreamContext.StreamIdVar -> "cfin-stream",
      graft.model.StreamContext.StreamKindVar -> "corpus-build-stream",
      graft.model.StreamContext.BackfillVar -> "true",
      graft.model.StreamContext.SpecVar -> spec)) shouldBe ExitCodes.Success

    // 3: FINALIZE the accumulated ledger
    val outF = tempDir("cfin-final-out")
    val statuses = scala.collection.mutable.ArrayBuffer.empty[String]
    CorpusBuildJob.runFinalize(spark, Map(
      "CORPUS_FINALIZE_STORE_PATH" -> storeDir,
      "CORPUS_FINALIZE_DOCS_PATH" -> corpDir,
      "CORPUS_FINALIZE_OUTPUT_PATH" -> outF,
      "CORPUS_FINALIZE_EXTRACT" -> "false"), statuses += _) shouldBe ExitCodes.Success
    Seq("consolidate_ledger", "kept_corpus", "write_outputs").foreach { p =>
      withClue(s"phase $p: ")(
        statuses.exists(_.startsWith(s"phase $p:")) shouldBe true)
    }

    // verdicts agree doc by doc (including n_hits arithmetic)
    def vmap(p: String) = spark.read.parquet(p)
      .select("doc_id", "verdict", "n_hits")
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val (vb, vf) = (vmap(s"$outB/ledger"), vmap(s"$outF/ledger"))
    vf shouldBe vb
    vb(24L)._1 shouldBe "drop_contaminated"
    vb.values.count(_._1 == "keep") shouldBe 7

    // the training artifacts are BIT-IDENTICAL: same rows, same pack
    // sequence ids, same shard placement, same manifest content hash
    def rows(p: String, cs: Seq[String]) = spark.read.parquet(p)
      .select(cs.map(col): _*).collect().map(_.toString).sorted
    val corpusCols = Seq("doc_id", "source", "text", "n_tokens",
      "n_chunks", "seq_first", "shard", "pos")
    rows(s"$outF/corpus", corpusCols) shouldBe rows(s"$outB/corpus", corpusCols)
    val manCols = Seq("source", "m_docs", "m_chars", "content_version")
    rows(s"$outF/manifest", manCols) shouldBe rows(s"$outB/manifest", manCols)
  }

  it should "resolve re-delivered docs to the latest (epoch, batch) verdict, numerically" in {
    import spark.implicits._
    // epoch 10 must beat epoch 9 even though "t-10" < "t-9" lexically
    val store = tempDir("cfin-redeliver-store")
    Seq((30L, "srcA", "keep", 30L, 0L)).toDF(
        "doc_id", "source", "verdict", "keeper_id", "n_hits")
      .write.mode("overwrite").parquet(s"$store/build_ledger/batch=t-9")
    Seq((30L, "srcA", "drop_exact", 7L, 0L),
        (31L, "srcA", "keep", 31L, 0L)).toDF(
        "doc_id", "source", "verdict", "keeper_id", "n_hits")
      .write.mode("overwrite").parquet(s"$store/build_ledger/batch=t-10")
    val docs = tempDir("cfin-redeliver-docs")
    Seq((30L, "srcA", ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3).trim),
        (31L, "srcA", ("one two three four five six seven eight nine ten eleven " * 3).trim))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(docs)
    val out = tempDir("cfin-redeliver-out")
    CorpusBuildJob.runFinalize(spark, Map(
      "CORPUS_FINALIZE_STORE_PATH" -> store,
      "CORPUS_FINALIZE_DOCS_PATH" -> docs,
      "CORPUS_FINALIZE_OUTPUT_PATH" -> out,
      "CORPUS_FINALIZE_EXTRACT" -> "false"), _ => ()) shouldBe ExitCodes.Success
    spark.read.parquet(s"$out/ledger")
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap shouldBe
      Map(30L -> "drop_exact", 31L -> "keep")
    spark.read.parquet(s"$out/corpus").select("doc_id")
      .as[Long].collect().toSeq shouldBe Seq(31L)
  }

  // -------------------------------------------------------------------
  // BATCH LANGUAGE GATE (round 19, VERDICT r18 #1)
  // -------------------------------------------------------------------

  behavior of "the language gate across pipelines"

  it should "apply CORPUS_BUILD_LANG_RATES identically in batch, stream, and finalize" in {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, coalesce, concat,
      lit => flit, when => fwhen}
    // Mixed-language fixture: English prose, Spanish and German prose
    // built from the LangId seed vocabulary. Sources are all EVEN
    // (fixture mix policy 100%), texts structurally distinct (no dup
    // verdicts), nothing shares the benchmark slice — so the ONLY
    // gate separating keep from drop is the language gate, and the
    // batch env knob, the streaming `langRates` spec field, and the
    // finalize consolidation must land the same verdict per doc.
    val benchText = "held out benchmark question about the golden ratio " +
      "of spiral galaxies and their luminous arms rotating slowly"
    val en = (i: Int, salt: String) =>
      s"document number $salt opens with its own particular subject and " +
        s"then continues through several plain prose sentences about " +
        s"topic $salt item$i detail$i aspect$i feature$i closing $salt"
    val docsRaw = Seq(
      (1L, benchText, "src0"),
      (20L, en(20, "alpha"), "src0"), (21L, en(21, "bravo"), "src2"),
      (22L, en(22, "carbon"), "src0"), (23L, en(23, "delta"), "src2"),
      (24L, "el perro corre por la calle y los ninos juegan en el parque " +
        "cada semana sobre el pueblo tema uno", "src0"),
      (25L, "una senora compra pan caliente por la manana y habla con sus " +
        "amigas sobre las cosas del pueblo", "src2"),
      (26L, "los amigos hablan sobre las cosas que pasan en el pueblo " +
        "mientras el perro corre cada semana", "src0"),
      (27L, "la calle esta llena de ninos que juegan y hablan con sus " +
        "amigas por la manana en el parque", "src2"),
      (28L, "der hund lauft durch die strasse und die kinder spielen im " +
        "park wahrend eine frau frisches brot kauft und geht", "src0"))
      .toDF("doc_id", "text", "source")
    val rawDir = tempDir("clang-docs-raw")
    docsRaw.coalesce(1).write.mode("overwrite").parquet(rawDir)
    val embDir = tempDir("clang-emb")
    docsRaw.select(col("doc_id").as("vec_id"),
        array((0 until 10).map(i =>
          fwhen(col("doc_id") % 10 === i, flit(1.0f)).otherwise(flit(0.0f))): _*)
          .as("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(embDir)
    val ext = graft.ext.ExtQueries.extractStageOf(docsRaw)
    val corpDir = tempDir("clang-docs-ext")
    ext.filter(col("doc_id") >= 20L)
      .coalesce(1).write.mode("overwrite").parquet(corpDir)
    val benchDir = tempDir("clang-bench")
    graft.ext.Dedup.shingleRows(ext.filter(col("doc_id") < 20L), "doc_id", "text")
      .select("s").distinct()
      .coalesce(1).write.mode("overwrite").parquet(benchDir)

    // The policy: halve English, drop Spanish entirely, German (and
    // anything else) takes the DEFAULT 100. Predict the drop set with
    // the gate's own arithmetic over the EXTRACTED text — the salted
    // bucket + trained verdict both pipelines must reproduce.
    val verdict = graft.ext.LangId.verdictOf(
      graft.ext.LangId.scoresArrayCol(col("text")))
    val lBucket = graft.ext.Dedup.shingleKey(
      concat(flit("lang:"), col("doc_id").cast("string"))) % 100
    val lPct = fwhen(verdict === "en", flit(50L))
      .when(verdict === "es", flit(0L)).otherwise(flit(100L))
    val predicted = spark.read.parquet(corpDir)
      .select(col("doc_id"), verdict.as("v"), (lBucket >= lPct).as("d"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val predictedDrop = predicted.filter(_._3).map(_._1).toSet
    // the seed-vocabulary texts classify to their language — es:0
    // guarantees drop_lang coverage; de takes the default and survives
    predicted.filter(_._1 >= 24L).filter(_._1 <= 27L)
      .foreach { case (id, v, d) =>
        withClue(s"doc $id: ") { v shouldBe "es"; d shouldBe true }
      }
    predicted.find(_._1 == 28L).map(_._2) shouldBe Some("de")
    predictedDrop should contain allOf (24L, 25L, 26L, 27L)
    predictedDrop should not contain 28L

    // 1: BATCH with the env knob
    val outB = tempDir("clang-batch-out")
    CorpusBuildJob.run(spark, Map(
      "CORPUS_BUILD_DOCS_PATH" -> rawDir,
      "CORPUS_BUILD_EMBEDDINGS_PATH" -> embDir,
      "CORPUS_BUILD_OUTPUT_PATH" -> outB,
      "CORPUS_BUILD_LANG_RATES" -> "en:50,es:0"), _ => ()) shouldBe
      ExitCodes.Success
    val vb = spark.read.parquet(s"$outB/ledger")
      .select("doc_id", "verdict")
      .as[(Long, String)].collect().toMap
    vb.filter(_._2 == "drop_lang").keySet shouldBe predictedDrop
    vb.filter(_._2 == "keep").keySet shouldBe
      (20L to 28L).toSet -- predictedDrop

    // 2: the HOSTED STREAM with the spec field, then FINALIZE
    val storeDir = tempDir("clang-store")
    val spec =
      s"""{
         |  "sourcePath": "$corpDir",
         |  "schemaDdl": "doc_id BIGINT, source STRING, text STRING",
         |  "storePath": "$storeDir",
         |  "checkpointPath": "${tempDir("clang-ckpt")}",
         |  "benchmarkShinglesPath": "$benchDir",
         |  "langRates": "en:50,es:0",
         |  "stopAfterBackfill": true
         |}""".stripMargin
    GraftMain.run(spark, Map(
      graft.model.StreamContext.StreamIdVar -> "clang-stream",
      graft.model.StreamContext.StreamKindVar -> "corpus-build-stream",
      graft.model.StreamContext.BackfillVar -> "true",
      graft.model.StreamContext.SpecVar -> spec)) shouldBe ExitCodes.Success
    val outF = tempDir("clang-final-out")
    CorpusBuildJob.runFinalize(spark, Map(
      "CORPUS_FINALIZE_STORE_PATH" -> storeDir,
      "CORPUS_FINALIZE_DOCS_PATH" -> corpDir,
      "CORPUS_FINALIZE_OUTPUT_PATH" -> outF,
      "CORPUS_FINALIZE_EXTRACT" -> "false"), _ => ()) shouldBe ExitCodes.Success
    val vf = spark.read.parquet(s"$outF/ledger")
      .select("doc_id", "verdict")
      .as[(Long, String)].collect().toMap
    vf shouldBe vb

    // 3: the gate off — absent env reproduces the ungated ledger
    val outU = tempDir("clang-ungated-out")
    CorpusBuildJob.run(spark, Map(
      "CORPUS_BUILD_DOCS_PATH" -> rawDir,
      "CORPUS_BUILD_EMBEDDINGS_PATH" -> embDir,
      "CORPUS_BUILD_OUTPUT_PATH" -> outU), _ => ()) shouldBe ExitCodes.Success
    val vu = spark.read.parquet(s"$outU/ledger")
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    vu.values.toSet should not contain "drop_lang"
    vu.keySet shouldBe vb.keySet
    // gated docs that the gate dropped are kept when it is off
    predictedDrop.foreach(id => vu(id) shouldBe "keep")
  }

  it should "gate on an operator-trained persisted profile in batch AND stream (round 19)" in {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, lit => flit, when => fwhen}
    // A profile store trained with ITALIAN — a language the seed model
    // does not know — and a policy that names it (`it:0`). The Italian
    // doc must drop_lang under the profile in BOTH pipelines; the
    // English docs keep (en:100).
    val pt20 = graft.ext.LangId.Seeds
    val it = "il cane corre per la strada e i bambini giocano nel parco " +
      "mentre una donna compra il pane fresco al mattino e parla con le " +
      "sue amiche della vita del paese ogni settimana vicino al fiume"
    val profRoot = tempDir("clang-profile")
    graft.ext.LangId.save(spark,
      graft.ext.LangId.train((pt20 :+ ("it" -> it)).toDF("lang", "text"),
        "lang", "text"), profRoot)

    val en = (i: Int, salt: String) =>
      s"document number $salt opens with its own particular subject and " +
        s"then continues through several plain prose sentences about " +
        s"topic $salt item$i detail$i aspect$i feature$i closing $salt"
    val itDoc = "il cane corre per la strada del paese e i bambini " +
      "giocano nel parco con il pane fresco del mattino ogni settimana"
    val docsRaw = Seq(
      (1L, "held out benchmark question about the golden ratio of " +
        "spiral galaxies and their luminous arms", "src0"),
      (20L, en(20, "alpha"), "src0"), (21L, en(21, "bravo"), "src2"),
      (22L, itDoc, "src0"))
      .toDF("doc_id", "text", "source")
    val rawDir = tempDir("clangp-docs-raw")
    docsRaw.coalesce(1).write.mode("overwrite").parquet(rawDir)
    val embDir = tempDir("clangp-emb")
    docsRaw.select(col("doc_id").as("vec_id"),
        array((0 until 10).map(i =>
          fwhen(col("doc_id") % 10 === i, flit(1.0f)).otherwise(flit(0.0f))): _*)
          .as("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(embDir)

    // sanity: the PROFILE calls the doc Italian; the seed model cannot
    graft.ext.LangId.classifyWith(
        graft.ext.LangId.loadModel(spark, profRoot),
        Seq((1L, itDoc)).toDF("doc_id", "text"), "doc_id", "text")
      .select("lang_id3").as[String].head() shouldBe "it"

    val outB = tempDir("clangp-batch-out")
    CorpusBuildJob.run(spark, Map(
      "CORPUS_BUILD_DOCS_PATH" -> rawDir,
      "CORPUS_BUILD_EMBEDDINGS_PATH" -> embDir,
      "CORPUS_BUILD_OUTPUT_PATH" -> outB,
      "CORPUS_BUILD_LANG_RATES" -> "it:0,en:100",
      "CORPUS_BUILD_LANG_PROFILE_PATH" -> profRoot), _ => ()) shouldBe
      ExitCodes.Success
    val vb = spark.read.parquet(s"$outB/ledger")
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    vb(22L) shouldBe "drop_lang"
    vb(20L) shouldBe "keep"
    vb(21L) shouldBe "keep"

    // the STREAM with langProfilePath: same verdicts per doc
    val ext = graft.ext.ExtQueries.extractStageOf(docsRaw)
    val corpDir = tempDir("clangp-docs-ext")
    ext.filter(col("doc_id") >= 20L)
      .coalesce(1).write.mode("overwrite").parquet(corpDir)
    val benchDir = tempDir("clangp-bench")
    graft.ext.Dedup.shingleRows(ext.filter(col("doc_id") < 20L), "doc_id", "text")
      .select("s").distinct()
      .coalesce(1).write.mode("overwrite").parquet(benchDir)
    val storeDir = tempDir("clangp-store")
    val spec =
      s"""{
         |  "sourcePath": "$corpDir",
         |  "schemaDdl": "doc_id BIGINT, source STRING, text STRING",
         |  "storePath": "$storeDir",
         |  "checkpointPath": "${tempDir("clangp-ckpt")}",
         |  "benchmarkShinglesPath": "$benchDir",
         |  "langRates": "it:0,en:100",
         |  "langProfilePath": "$profRoot",
         |  "stopAfterBackfill": true
         |}""".stripMargin
    GraftMain.run(spark, Map(
      graft.model.StreamContext.StreamIdVar -> "clangp-stream",
      graft.model.StreamContext.StreamKindVar -> "corpus-build-stream",
      graft.model.StreamContext.BackfillVar -> "true",
      graft.model.StreamContext.SpecVar -> spec)) shouldBe ExitCodes.Success
    val vs = spark.read.parquet(s"$storeDir/build_ledger")
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    vs(22L) shouldBe "drop_lang"
    vs(20L) shouldBe "keep"
    vs(21L) shouldBe "keep"
  }

  it should "refuse an absent ledger, an overlapping output root, and a docs corpus missing kept ids" in {
    import spark.implicits._
    val store = tempDir("cfin-guard-store")
    val docs = tempDir("cfin-guard-docs")
    Seq((1L, "srcA", "some text here")).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(docs)
    // no build_ledger/ under the store
    CorpusBuildJob.runFinalize(spark, Map(
      "CORPUS_FINALIZE_STORE_PATH" -> store,
      "CORPUS_FINALIZE_DOCS_PATH" -> docs,
      "CORPUS_FINALIZE_OUTPUT_PATH" -> tempDir("cfin-guard-out")),
      _ => ()) shouldBe ExitCodes.Fatal
    Seq((99L, "srcA", "keep", 99L, 0L)).toDF(
        "doc_id", "source", "verdict", "keeper_id", "n_hits")
      .write.mode("overwrite").parquet(s"$store/build_ledger/batch=t-1")
    // output nested inside the store root
    CorpusBuildJob.runFinalize(spark, Map(
      "CORPUS_FINALIZE_STORE_PATH" -> store,
      "CORPUS_FINALIZE_DOCS_PATH" -> docs,
      "CORPUS_FINALIZE_OUTPUT_PATH" -> s"$store/final"),
      _ => ()) shouldBe ExitCodes.Fatal
    // kept id 99 resolves to no document
    CorpusBuildJob.runFinalize(spark, Map(
      "CORPUS_FINALIZE_STORE_PATH" -> store,
      "CORPUS_FINALIZE_DOCS_PATH" -> docs,
      "CORPUS_FINALIZE_OUTPUT_PATH" -> tempDir("cfin-guard-out2")),
      _ => ()) shouldBe ExitCodes.Fatal
  }
}
