package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Emits exactly ONE JSON line on stdout (plus a copy
  * at BENCH_LOCAL.json) for the driver to parse.
  *
  * Measurement contract (round-1 verdict fixes):
  *  - a full warm-up pass first, so JVM/codegen/file-cache startup cost
  *    isn't attributed to whichever query runs first;
  *  - each query executes via the `noop` sink, which evaluates the
  *    whole declared plan (sorts, projections) without letting Catalyst
  *    short-circuit to a count;
  *  - per-query time is the MIN over two measured passes: the plan's
  *    cost is a property of the code, transient machine contention is
  *    not, and min-of-k is the standard estimator that discards it
  *    (the round-3 driver bench ran on a loaded host and reported
  *    3-40× inflated times for unchanged queries — 257.7 s total vs
  *    38.5 s for the identical commit on a quiet machine);
  *  - failures are reported in the JSON (`failed`), never swallowed.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.runtime.GraftSession.local("graft-bench", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def execute(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[String] =
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        System.err.println(f"[bench] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
        None
      }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        Some(name)
      }

    // Host-drift sentinels (VERDICT r9 #3, widened r11 per VERDICT r10
    // #1): two CONSTANT-cost synthetic probes whose plans can never
    // change round over round, so recorded runs self-calibrate against
    // them. The CPU probe (xxhash64 over a range, no IO, no shuffle)
    // catches CPU contention; the r10 record showed it is blind to the
    // mode that actually hit the driver box (dedup_minhash/dedup_segments
    // 3× slower with a FLAT cpu sentinel), so the SHUFFLE probe — a
    // fixed-size repartition+agg that writes/reads real shuffle blocks
    // through the same local-disk/page-cache path as every wide query —
    // covers IO/shuffle contention. Both are probed at three
    // checkpoints (after warm-up, between the passes, after pass 2):
    // a contended window DURING the run shows up as probe spread even
    // when the box was quiet at the end.
    def cpuProbe(): Double = {
      import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
      val t0 = System.nanoTime()
      spark.range(0, 1500000000L, 1, 32)
        .select(pmod(xxhash64(col("id")), lit(1000L)).as("h")) // bounded: ANSI sum can't overflow
        .agg(sum("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def shuffleProbe(): Double = {
      import org.apache.spark.sql.functions.{col, sum}
      val t0 = System.nanoTime()
      spark.range(0, 25000000L, 1, 32)
        .repartition(64, col("id")) // a real exchange: ~200 MB of blocks
        .agg(sum(col("id")))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // The LIGHT per-row probe (round 19, VERDICT r18 #6): the r17
    // row_sentinels mechanism probed only harness-class rows, and the
    // r18 record's 25 phantom drifts were all on UNPROBED engine rows —
    // exactly the gap. Probing every row with the heavy cpuProbe would
    // double the run, so every measured execution is preceded by a
    // HALF-size probe (~0.5 s quiet). Size matters: a 1/8 probe
    // measured ~10 ms of compute inside ~0.1-0.3 s of job-scheduling
    // overhead, and its factors were pure scheduler jitter (first
    // attempt read 97/135 rows "contended" on a box whose heavy
    // checkpoint sentinels sat at 0.99-1.23 s). Factor = min(adjacent
    // probes) / the light probes' 25th-PERCENTILE (a run-wide min is
    // an extreme-value statistic that inflates every ratio).
    // Scale-disjoint from cpuSent (never mixed into the checkpoint
    // series).
    def lightProbe(): Double = {
      import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
      val t0 = System.nanoTime()
      spark.range(0, 750000000L, 1, 32)
        .select(pmod(xxhash64(col("id")), lit(1000L)).as("h"))
        .agg(sum("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Engine-vs-harness split (VERDICT r11 #8): the golden replay rows
    // pay fresh stores + per-trigger cadence every run — correctness
    // harnesses whose cost is dominated by micro-batch count, not
    // operator work (their SCALE rows are flat across tiers). Their
    // steady-state operator costs are measured separately
    // (decision_steady, streaming_dedup, store_ingest). The headline
    // "value" stays the all-rows total (driver contract); engine_total
    // is the subtotal round-over-round comparisons should track.
    val HarnessRows: Set[String] = Set(
      "streaming_dedup_golden", "streaming_exact_golden",
      "streaming_exact_ttl_golden", "streaming_semantic_golden",
      "streaming_semantic_ttl_golden", "streaming_ttl_golden",
      "streaming_decision_golden", "streaming_decision_cluster",
      "streaming_decontam_golden", "dedup_retraction",
      "dedup_retraction_cluster", "streaming_retraction_golden",
      "streaming_quality_golden", "streaming_quality_lm_golden",
      "streaming_corpus_build_golden",
      // full-chain build compositions (VERDICT r14 called these
      // harness-class: fit collects + IVF training + every stage
      // materialized; the per-stage plans are audited individually)
      "pipeline_corpus_build", "pipeline_corpus_build_clf",
      "pipeline_corpus_build_lang",
      // round 20: the pure-non-Latin build composition is the same
      // full-chain harness class as its three siblings (VERDICT r14's
      // criterion; it debuted mid-build in round 20 outside this set,
      // which would have skewed engine_total by a whole build run)
      "pipeline_corpus_build_multi")

    val queries = SparkEntry.queries.toSeq.sortBy(_._1) // PINNED order: alphabetical, every round
    queries.foreach { case (n, fn) => execute(n, fn) } // warm-up

    var failed = List.empty[String]
    val cpuSent = scala.collection.mutable.ArrayBuffer.empty[Double]
    val shufSent = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Per-row self-labeling (VERDICT r16 #3; widened to EVERY row in
    // round 19 per VERDICT r18 #6): a contended driver window has
    // manufactured phantom regressions four rounds running — r18's 25
    // drifted rows were all ENGINE rows, which the r17 mechanism left
    // unprobed. Every measured execution is now preceded by a light
    // CPU probe; BENCH_LOCAL.json records each row's probe-to-floor
    // ratio as "row_sentinels", so a contended measurement is
    // machine-adjudicable row by row: factor ≈ 1 ⇒ the figure is the
    // plan's, factor ≫ 1 ⇒ the window was contended and the quiet
    // record governs. The floor is the run's own minimum light probe
    // (self-calibrating — no cross-host constant).
    val rowProbes = scala.collection.mutable.Map.empty[String, List[Double]]
    // Round 20 (VERDICT r19 #4): a single PRE-row probe under-
    // integrates burst contention on LONG rows — the r19 driver window
    // read streaming_decision_golden at 31.8 s with an innocent-looking
    // 1.32 pre-probe (vs 15.1 s quiet). Rows longer than ~10 s now
    // probe AFTER as well, and the pass's sample is the WORSE of the
    // two (the window's condition, not its best moment); the published
    // factor stays min-over-passes / floor — the window of the pass
    // that produced the row's min, which is the figure the record
    // keeps. The four streaming-extra rows (streaming_dedup,
    // store_ingest, sim_train, decision_steady) ride the same
    // mechanism via probedBlock — the last unprobed rows.
    val LongRowSec = 10.0
    def probedBlock[A](name: String)(body: => A): A = {
      val p1 = try lightProbe() catch { case _: Throwable => -1.0 }
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      val p2 =
        if (sec > LongRowSec) try lightProbe() catch { case _: Throwable => -1.0 }
        else -1.0
      val sample = math.max(p1, p2)
      if (sample > 0.0)
        rowProbes(name) = sample :: rowProbes.getOrElse(name, Nil)
      r
    }
    def probeSentinels(tag: String): Unit =
      try {
        val c = cpuProbe(); val s = shuffleProbe()
        cpuSent += c; shufSent += s
        System.err.println(f"[bench] sentinel.$tag cpu=$c%.2fs shuffle=$s%.2fs")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sentinel.$tag failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    try { cpuProbe(); shuffleProbe() } catch { case _: Throwable => () } // sentinel warm-up
    def measuredPass(): Seq[(String, Double)] = queries.map { case (name, fn) =>
      // EVERY row gets an adjacent light probe (round 19 — engine rows
      // were the unprobed gap r18's phantom drifts landed on); long
      // rows additionally probe AFTER (round 20, see probedBlock)
      name -> probedBlock(name) {
        val t0 = System.nanoTime()
        execute(name, fn).foreach(f => failed ::= f)
        (System.nanoTime() - t0) / 1e9
      }
    }
    probeSentinels("pre")
    val pass1 = measuredPass()
    probeSentinels("mid")
    val pass2 = measuredPass().toMap
    probeSentinels("post")
    val minOf2 = pass1.map { case (name, t) =>
      name -> math.min(t, pass2.getOrElse(name, t))
    }
    // Adaptive re-measure: when the two passes disagree by > 1.5× on a
    // non-trivial query, the MIN itself is suspect — the round-4 driver
    // host was contended across BOTH passes (agg_grouping_sets measured
    // 19.9 s there vs 0.6 s on a quiet box). One more pass for just the
    // disputed queries costs seconds and recovers the plan's real cost.
    val disputed = pass1.collect {
      case (name, t1) if {
        val t2 = pass2.getOrElse(name, t1)
        val (lo, hi) = (math.min(t1, t2), math.max(t1, t2))
        lo > 0.5 && hi > lo * 1.5
      } => name
    }.toSet
    val byName = queries.toMap
    val results = minOf2.map { case (name, t) =>
      if (!disputed.contains(name)) name -> t
      else {
        val t0 = System.nanoTime()
        // a failure on the extra pass is NOT appended to `failed`: both
        // counted passes succeeded, so the query is healthy (ADVICE r5) —
        // keep the min of the two measured passes and move on
        val ok = execute(name, byName(name)).isEmpty
        if (ok) name -> math.min(t, (System.nanoTime() - t0) / 1e9) else name -> t
      }
    }

    // Streaming-path micro-bench (VERDICT r6 #8): a bounded 10k-doc
    // slice streamed through the near-dup signature store (file source,
    // multiple micro-batches), so streaming throughput regressions
    // become visible round-over-round. rows/s and final state rows ride
    // a top-level "streaming" key; the wall time joins the queries map
    // as streaming_dedup.
    val streaming: Option[(Long, Double, Long)] = probedBlock("streaming_dedup") {
      try {
        val tmp = java.nio.file.Files.createTempDirectory("graft-stream-bench")
        val slice = s"$tmp/docs"
        val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text").limit(10000)
        docsDf.repartition(8).write.parquet(slice)
        val n = spark.read.parquet(slice).count()
        // Size the state partitioning to the STATE, not the batch conf
        // (VERDICT r7 #4): the session's 32 shuffle partitions are
        // right for corpus-sized batch shuffles, but they give this
        // ~19K-row state store 32 per-trigger commit/checkpoint rounds
        // of pure overhead — the dominant cost at this corpus size. A
        // deployment sizes this to expected state volume UP FRONT (the
        // state partition count is frozen at the first checkpoint).
        // Two passes (fresh checkpoint each), min-of-2 — the same
        // measurement contract as every batch row; the round-7 number
        // was a single COLD pass paying the streaming plan's codegen.
        val savedShuffle = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try {
          val runs = (1 to 2).map { pass =>
            val src = spark.readStream.schema(docsDf.schema)
              .option("maxFilesPerTrigger", "2").parquet(slice)
            val hits = graft.streaming.StreamingDedup.nearDupStream(src, "doc_id", "text")
            val t0 = System.nanoTime()
            val q = hits.writeStream.format("noop")
              .option("checkpointLocation", s"$tmp/ckpt$pass").start()
            q.processAllAvailable()
            val sec = (System.nanoTime() - t0) / 1e9
            val state = q.recentProgress.toSeq
              .flatMap(p => Option(p.stateOperators).toSeq.flatten)
              .lastOption.map(_.numRowsTotal).getOrElse(-1L)
            q.stop()
            (sec, state)
          }
          val (sec, state) = runs.minBy(_._1)
          System.err.println(f"[bench] streaming_dedup $n docs ${sec}%.2fs state=$state")
          Some((n, sec, state))
        } finally spark.conf.set("spark.sql.shuffle.partitions", savedShuffle)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] streaming_dedup failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        failed ::= "streaming_dedup"
        None
      }
    }
    // Store-ingest micro-bench (VERDICT r7 #2: the old
    // dedup_incremental_store row conflated corpus ingestion with the
    // steady-state query; the query row now measures dedupBatch alone —
    // the store is built once outside the timed path — and THIS row is
    // the ingestion half: one SignatureStore.append of the even-half
    // corpus to a fresh store, the cost a deployment pays once per
    // admitted batch). min-of-2 like every other row.
    val storeIngest: Option[Double] = probedBlock("store_ingest") {
      try {
        import org.apache.spark.sql.functions.{col, lit, pmod}
        val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text").filter(pmod(col("doc_id"), lit(2)) === 0)
        val times = (1 to 2).map { _ =>
          val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-bench")
          val t0 = System.nanoTime()
          graft.ext.SignatureStore.append(corpus, "doc_id", "text", tmp.toString)
          val sec = (System.nanoTime() - t0) / 1e9
          graft.ext.SignatureStore.deleteStore(tmp)
          sec
        }
        val sec = times.min
        System.err.println(f"[bench] store_ingest ${sec}%.2fs")
        Some(sec)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] store_ingest failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        failed ::= "store_ingest"
        None
      }
    }
    // Train-vs-search stage split for the sim_ivfpq family (VERDICT r8
    // #6): the sim_ivfpq/sim_pq query rows are dominated by in-plan
    // training, which hides search-stage regressions — the stage that
    // matters at scale (training is once-per-corpus, search is
    // per-query). This row times the shared TRAINING stage alone
    // (eagerly-materialized centroids + codebooks, identical parameters
    // to sim_ivfpq); the cached-structures SEARCH row already exists as
    // sim_index_store (stored index, built outside its timed path). A
    // sim_ivfpq movement now attributes per stage. min-of-2.
    val simTrain: Option[Double] = probedBlock("sim_train") {
      try {
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          graft.ext.ExtQueries.simTrainStage(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        val sec = times.min
        System.err.println(f"[bench] sim_train ${sec}%.2fs")
        Some(sec)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sim_train failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        failed ::= "sim_train"
        None
      }
    }
    // Steady-state decision surface (VERDICT r10 #6): the
    // streaming_decision_golden row pays a fresh store + all five
    // admissions every run; a deployment's recurring cost is ONE batch
    // decided against already-accumulated stores. Seeding (3 corpus
    // slices + quantizer training) runs untimed; the row is the min
    // over the last TWO slices, each a GENUINELY FRESH batch paying
    // real admission writes (a replayed second pass would append
    // nothing and bias the number low — its anti-joins empty out).
    val decisionSteady: Option[Double] = probedBlock("decision_steady") {
      try {
        val (store, cents, lasts) =
          graft.ext.ExtQueries.decisionSteadyPrepare(spark, sfDir)
        val times = lasts.zipWithIndex.map { case (batch, p) =>
          val t0 = System.nanoTime()
          graft.ext.ExtQueries.decisionSteadyBatch(store, cents, batch, s"steady-$p")
          (System.nanoTime() - t0) / 1e9
        }
        val sec = times.min
        System.err.println(f"[bench] decision_steady ${sec}%.2fs")
        Some(sec)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] decision_steady failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        failed ::= "decision_steady"
        None
      }
    }
    // The sentinel QUERY rows are the min over the three checkpoint
    // probes (the same estimator as every row — the plan's cost, not
    // the box's worst moment); the per-checkpoint series rides
    // BENCH_LOCAL.json's "sentinels" key and the stderr tail, so a
    // contended window during the run is attributable after the fact.
    val sentinelRows =
      (if (cpuSent.nonEmpty) Seq("host_sentinel" -> cpuSent.min) else Seq.empty) ++
      (if (shufSent.nonEmpty) Seq("shuffle_sentinel" -> shufSent.min) else Seq.empty)
    sentinelRows.foreach { case (n, v) => System.err.println(f"[bench] $n ${v}%.2fs") }
    // NOT summed into "total": sentinels measure the host, not the
    // engine (ADVICE r10 — pre-r11 totals included host_sentinel's
    // ~0.9 s; r11 totals are engine-only, note kept wherever totals
    // are compared across that boundary).
    val withStreaming = results ++
      streaming.map { case (_, sec, _) => "streaming_dedup" -> sec } ++
      storeIngest.map("store_ingest" -> _) ++
      simTrain.map("sim_train" -> _) ++
      decisionSteady.map("decision_steady" -> _)
    val engineRows = withStreaming.filterNot { case (k, _) => HarnessRows(k) }
    val harnessRows = withStreaming.filter { case (k, _) => HarnessRows(k) }
    val sentinelJson = {
      def arr(xs: Seq[Double]) = xs.map(v => f"$v%.2f").mkString("[", ",", "]")
      if (cpuSent.isEmpty && shufSent.isEmpty) ""
      else s""","sentinels":{"cpu":${arr(cpuSent.toSeq)},"shuffle":${arr(shufSent.toSeq)}}"""
    }
    // per-row probe-to-floor factors for the harness-class rows (see
    // rowProbes above): factor = min(probe adjacent to this row across
    // passes) / (run-wide probe floor). BASELINE.md documents the read
    // rule: a factor materially above 1 labels that row's figure as
    // measured in a contended window.
    val rowSentJson = {
      // the light probes' own 25th percentile as the floor — a
      // run-wide MIN over ~270 samples is an extreme value that
      // inflates every ratio (round 19: every row probed, engine
      // included; scale-disjoint from the heavy checkpoint series)
      val all = rowProbes.valuesIterator.flatten.toSeq.sorted
      val floor = if (all.nonEmpty) all(all.size / 4) else 0.0
      if (rowProbes.isEmpty || floor <= 0.0) ""
      else rowProbes.toSeq.sortBy(_._1).map { case (k, ps) =>
        f""""$k":${ps.min / floor}%.2f"""
      }.mkString(""","row_sentinels":{""", ",", "}")
    }

    val displayRows = withStreaming ++ sentinelRows
    def render(fmt: Double => String, minimal: Boolean,
        rows: Seq[(String, Double)], otherN: Int, otherSec: Double): String = {
      val qs = rows.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val total = withStreaming.map(_._2).sum // engine rows only — sentinels excluded
      val sf = sfDir.split("/").reverse.collectFirst {
        case s if s.startsWith("sf") => s.drop(2)
      }.getOrElse("0")
      val failedJson =
        if (minimal && failed.isEmpty) ""
        else "," + "\"failed\":" +
          failed.distinct.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      val otherJson =
        if (otherN == 0) ""
        else s""","other_n":$otherN,"other_sec":${fmt(otherSec)}"""
      val streamJson = streaming.map { case (n, sec, state) =>
        s""","streaming":{"docs":$n,"rows_per_sec":${fmt(n / math.max(sec, 1e-9))},"state_rows":$state}"""
      }.filter(_ => !minimal).getOrElse("")
      val sentJson = if (minimal) "" else sentinelJson + rowSentJson
      val phasesJson = {
        import scala.jdk.CollectionConverters._
        val ph = graft.ext.ExtQueries.retractionPhases.asScala.toSeq.sortBy(_._1)
        if (minimal || ph.isEmpty) ""
        else ph.map { case (k, v) => s"\"$k\":${fmt(v)}" }
          .mkString(""","retraction_phases":{""", ",", "}")
      }
      val splitJson =
        s""","engine_total":${fmt(engineRows.map(_._2).sum)}""" +
          s""","harness_n":${harnessRows.size}""" +
          s""","harness_total":${fmt(harnessRows.map(_._2).sum)}"""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":$sf$splitJson$otherJson$failedJson$streamJson$sentJson$phasesJson}"""
    }
    // stdout gets a COMPACT line: the driver captures a ~2000-char tail
    // of stdout (a 1,906-char line parsed in round 6; 2,036 clipped in
    // round 7 — "parsed": null both times it overflowed). Formatting
    // alone (1 decimal, stripped zeros, empty objects omitted) no
    // longer guarantees fit as the query count grows, so the stdout
    // line holds a hard 1,850-char budget: when it would overflow, the
    // CHEAPEST rows fold into "other_n"/"other_sec" (count + summed
    // seconds — the total stays exact) until it fits. Every per-query
    // figure, full precision, and the streaming throughput object are
    // always in BENCH_LOCAL.json.
    def stripped(v: Double): String = {
      val s = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
      val t = if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
      if (t.isEmpty) "0" else t
    }
    val budget = 1850
    // sentinel rows never fold into "other": "other" sums into total
    // comparisons and the sentinels' whole job is staying identifiable.
    // NEW rows (absent from the previous run's committed
    // BENCH_LOCAL.json) never fold either — round-over-round
    // adjudication needs a new operator's first figure visible in the
    // driver record, not summed into "other" (VERDICT r15 #6:
    // pipeline_manifest_diff's debut was invisible). Every row, full
    // precision, is always in BENCH_LOCAL.json regardless.
    val priorNames: Set[String] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_LOCAL.json")),
          java.nio.charset.StandardCharsets.UTF_8)
        "\"([a-z0-9_]+)\":".r.findAllMatchIn(txt).map(_.group(1)).toSet
      } catch { case _: Throwable => Set.empty }
    val byCost = withStreaming.sortBy(_._2)
      .filter { case (k, _) => priorNames.isEmpty || priorNames(k) }
    var keep = displayRows.toSeq
    var folded = Seq.empty[(String, Double)]
    var line = render(stripped, minimal = true, keep, folded.size, folded.map(_._2).sum)
    var idx = 0
    // if every prior-known row is folded and the line STILL overflows
    // (a flood of new rows), fold new rows too — a folded debut beats
    // a clipped, unparseable record
    val byCostAll = withStreaming.sortBy(_._2)
    // ADVICE r16: if NO current row is prior-known (a BENCH_LOCAL format
    // change, or an all-new-rows round), byCost is empty and the loop
    // below would never run — the line could exceed the budget with no
    // folding at all. Seed the queue with the all-rows order instead.
    var costQueue = if (byCost.nonEmpty) byCost else byCostAll
    while (line.length > budget && idx < costQueue.size) {
      folded = folded :+ costQueue(idx)
      val drop = folded.map(_._1).toSet
      keep = displayRows.filterNot { case (k, _) => drop(k) }
      line = render(stripped, minimal = true, keep, folded.size, folded.map(_._2).sum)
      idx += 1
      if (idx >= costQueue.size && line.length > budget && costQueue.size < byCostAll.size) {
        costQueue = byCostAll.filterNot { case (k, _) => drop(k) }
        idx = 0
      }
    }
    // name the folded rows on stderr for the round record (VERDICT r20
    // #8): the compact stdout line only carries other_n/other_sec, and
    // a load-bearing row folding silently reads as "dropped"
    if (folded.nonEmpty)
      System.err.println(s"[bench] folded into other (${folded.size}): " +
        folded.map(_._1).sorted.mkString(", "))
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"),
      render(v => v.toString, minimal = false, displayRows.toSeq, 0, 0.0))
    spark.stop()
    if (failed.nonEmpty) sys.exit(3)
  }
}
