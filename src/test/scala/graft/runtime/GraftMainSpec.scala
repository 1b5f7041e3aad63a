package graft.runtime

import org.scalatest.LoneElement
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkFixture
import graft.model.{ExitCodes, StreamContext}
import graft.sinks.ArcaneLayoutReader

/** Suite-local paged API: GraftMainSpec must NOT share
  * [[graft.sources.dsv2.FakePagedApi]] — suites run in parallel and
  * that fake's static call log is asserted by RestApiSourceV2Spec. */
class MainSpecPagedApi extends graft.sources.RestSource.HttpFetch {
  override def fetch(uri: String, headers: Map[String, String],
      body: Option[String]): Option[String] = {
    val page = uri.split("page=")(1).toLong
    Some(
      s"""{"meta": {"totalPages": 5},
         | "items": [{"page": $page, "a": ${page * 10}},
         |           {"page": $page, "a": ${page * 10 + 1}}]}""".stripMargin)
  }
}

/** Suite-local CT server (same isolation rationale: FakeCtServer's
  * statics belong to CtSourceV2Spec): fixed two-change table at v2. */
class MainSpecCtServer extends graft.sources.dsv2.CtGateway {
  override def scalar(sql: String): Option[Long] =
    if (sql.contains("CHANGE_TRACKING_CURRENT_VERSION")) Some(2L) else None
  override def rows(sql: String): Iterator[Seq[Any]] = {
    val m = """CHANGETABLE\(CHANGES \[dbo\]\.\[orders\], (\d+)\).*SYS_CHANGE_VERSION <= (\d+)""".r
      .unanchored.findFirstMatchIn(sql.replace('\n', ' ')).get
    val (from, to) = (m.group(1).toLong, m.group(2).toLong)
    val (stripe, n) = """% (\d+) = (\d+)""".r.findFirstMatchIn(sql)
      .map(s => (s.group(2).toLong, s.group(1).toLong)).getOrElse((0L, 1L))
    Seq((1L, 10.0, 1L), (2L, 20.0, 2L))
      .filter { case (id, _, v) => v > from && v <= to && id % n == stripe }
      .iterator
      .map { case (id, total, v) => Seq[Any](id, total, v, "U", to, s"mk$id") }
  }
}

/** [[MainSpecCtServer]] after the table gained a column: its
  * INFORMATION_SCHEMA column probe no longer matches the declared DDL. */
class MainSpecDriftedCtServer extends MainSpecCtServer {
  override def rows(sql: String): Iterator[Seq[Any]] =
    if (sql.contains("INFORMATION_SCHEMA.COLUMNS"))
      Iterator(Seq[Any]("id"), Seq[Any]("total"), Seq[Any]("discount"))
    else super.rows(sql)
}

/** The composition root driven exactly the way the operator drives a
  * stream pod: STREAMCONTEXT__* environment → kind dispatch →
  * backfill lifecycle → arcane layout + exit code. */
class GraftMainSpec extends AnyFlatSpec with Matchers with LoneElement with SparkFixture {

  behavior of "GraftMain (env-contract hosting program)"

  private def env(kind: String, spec: String, backfill: Boolean = true) = Map(
    StreamContext.StreamIdVar -> "it-stream",
    StreamContext.StreamKindVar -> kind,
    StreamContext.BackfillVar -> backfill.toString,
    StreamContext.SpecVar -> spec)

  it should "run a REST backfill end-to-end from the env contract" in {
    val target = tempDir("graftmain-rest-sink")
    val spec =
      s"""{
         |  "uriTemplate": "http://api/items?page=@page",
         |  "fetcherClass": "${classOf[MainSpecPagedApi].getName}",
         |  "totalPagesKeyChain": "meta.totalPages",
         |  "recordKeyChain": "items",
         |  "maxSweeps": "1",
         |  "sinkPath": "$target",
         |  "checkpointPath": "${tempDir("graftmain-rest-ckpt")}",
         |  "stopAfterBackfill": true
         |}""".stripMargin
    GraftMain.run(spark, env("rest", spec)) shouldBe ExitCodes.Success
    // the full layout contract landed: parts + schema + COMPLETED token
    ArcaneLayoutReader.isComplete(spark, target) shouldBe true
    ArcaneLayoutReader.readRaw(spark, target).count() shouldBe 10
  }

  it should "run a CT backfill end-to-end from the env contract" in {
    val target = tempDir("graftmain-ct-sink")
    val spec =
      s"""{
         |  "gatewayClass": "${classOf[MainSpecCtServer].getName}",
         |  "schemaName": "dbo", "tableName": "orders",
         |  "pkColumns": "id", "schemaDdl": "id BIGINT, total DOUBLE",
         |  "startVersion": "0",
         |  "sinkPath": "$target",
         |  "checkpointPath": "${tempDir("graftmain-ct-ckpt")}",
         |  "stopAfterBackfill": true
         |}""".stripMargin
    GraftMain.run(spark, env("ct", spec)) shouldBe ExitCodes.Success
    ArcaneLayoutReader.isComplete(spark, target) shouldBe true
    val rows = ArcaneLayoutReader.readRaw(spark, target)
    rows.count() shouldBe 2
    rows.columns should contain allOf ("id", "total", "SYS_CHANGE_VERSION",
      "SYS_CHANGE_OPERATION", "ChangeTrackingVersion", "ARCANE_MERGE_KEY")
  }

  it should "report a drifted CT table as schema-mismatch and exit SUCCESS" in {
    val target = tempDir("graftmain-ct-drift-sink")
    val spec =
      s"""{
         |  "gatewayClass": "${classOf[MainSpecDriftedCtServer].getName}",
         |  "schemaName": "dbo", "tableName": "orders",
         |  "pkColumns": "id", "schemaDdl": "id BIGINT, total DOUBLE",
         |  "startVersion": "0", "validateSchemaEvery": 1,
         |  "sinkPath": "$target",
         |  "checkpointPath": "${tempDir("graftmain-ct-drift-ckpt")}",
         |  "stopAfterBackfill": true
         |}""".stripMargin
    val reports = scala.collection.mutable.ArrayBuffer.empty[String]
    // the probe fails the running query; the operator must see drift
    // (relaunch in backfill), not a fatal fault
    GraftMain.run(spark, env("ct", spec), statusReporter = reports += _) shouldBe
      ExitCodes.Success
    reports.loneElement should startWith("schema-mismatch:")
    ArcaneLayoutReader.isComplete(spark, target) shouldBe false
  }

  it should "host the dedup-decision surface under the same operator contract" in {
    import spark.implicits._
    // two exact-duplicate docs + one unique: the verdict surface must
    // land keep/drop_exact decisions and the incremental cluster state
    val src = tempDir("graftmain-dec-src")
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val textB = "one two three four five six seven eight nine ten eleven " * 4
    Seq((1L, textA), (2L, textB), (3L, textA)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val store = tempDir("graftmain-dec-store")
    val cstore = s"${tempDir("graftmain-dec-cluster")}/clusters"
    val spec =
      s"""{
         |  "sourcePath": "$src",
         |  "schemaDdl": "doc_id BIGINT, text STRING",
         |  "storePath": "$store",
         |  "clusterPath": "$cstore",
         |  "checkpointPath": "${tempDir("graftmain-dec-ckpt")}",
         |  "stopAfterBackfill": true
         |}""".stripMargin
    GraftMain.run(spark, env("dedup-decision", spec)) shouldBe ExitCodes.Success
    val dec = graft.streaming.StreamingDecision.decisions(spark, store)
      .select("doc_id", "decision", "keeper_id")
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    dec(1L) shouldBe ("keep", 1L)
    dec(2L) shouldBe ("keep", 2L)
    dec(3L) shouldBe ("drop_exact", 1L)
    // arrival-time cluster state landed too
    graft.ext.ComponentStore.components(spark, cstore)
      .as[(Long, Long)].collect().toMap shouldBe Map(1L -> 1L, 3L -> 1L)
  }

  it should "host the streaming corpus build: decision tiers + decontamination + mixture + build ledger (round 17)" in {
    import spark.implicits._
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val textC = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 4
    val textD = "spark catalyst tungsten shuffle partition broadcast codegen plan " * 4
    val textE = "red orange yellow green blue indigo violet cyan magenta white " * 4
    val src = tempDir("graftmain-cbs-src")
    Seq((1L, textA, "srcA"), (2L, textA, "srcA"), (3L, textC, "srcB"),
      (4L, textD, "srcZero"), (5L, textE, "srcA"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("overwrite").parquet(src)
    // benchmark shingles = doc 3's text: it must flag drop_contaminated
    val benchDir = tempDir("graftmain-cbs-bench")
    graft.ext.Dedup.shingleRows(
        Seq((3L, textC)).toDF("doc_id", "text"), "doc_id", "text")
      .select("s").distinct()
      .coalesce(1).write.mode("overwrite").parquet(benchDir)
    val store = tempDir("graftmain-cbs-store")
    val spec =
      s"""{
         |  "sourcePath": "$src",
         |  "schemaDdl": "doc_id BIGINT, text STRING, source STRING",
         |  "storePath": "$store",
         |  "checkpointPath": "${tempDir("graftmain-cbs-ckpt")}",
         |  "benchmarkShinglesPath": "$benchDir",
         |  "mixRates": "srcZero:0",
         |  "stopAfterBackfill": true
         |}""".stripMargin
    GraftMain.run(spark, env("corpus-build-stream", spec)) shouldBe ExitCodes.Success
    val ledger = spark.read.parquet(s"$store/build_ledger")
      .select("doc_id", "verdict", "keeper_id", "n_hits")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    ledger(1L)._1 shouldBe "keep"
    ledger(2L) shouldBe ("drop_exact", 1L, 0L) // decision tier outranks the overlays
    ledger(3L)._1 shouldBe "drop_contaminated"
    ledger(3L)._3 should be >= 5L
    ledger(4L)._1 shouldBe "drop_mix" // srcZero keeps 0%
    ledger(5L)._1 shouldBe "keep" // unlisted source takes the 100% default
    // the decision surface itself ran with its store discipline intact
    graft.streaming.StreamingDecision.decisions(spark, store)
      .select("doc_id", "decision").as[(Long, String)].collect().toMap
      .apply(2L) shouldBe "drop_exact"
  }

  it should "apply the trained language gate in the streaming corpus build (round 18)" in {
    import spark.implicits._
    // four languages, distinct texts: ru keeps 0% -> drop_lang (the
    // non-Latin doc the stopword heuristic calls unk); es at 0% with a
    // 0%-mix source proves drop_lang OUTRANKS drop_mix; en listed at
    // 100% keeps; fr is UNLISTED -> the default pct (100) keeps — an
    // unrecognized language is never silently downweighted. Only ONE
    // non-Latin doc: the decision surface's exact tier keys on ASCII
    // tokens, so two non-Latin docs collapse to the same empty
    // signature and dedup against each other before the gate sees the
    // second one.
    val textEn = "the children walk to the quiet river in the morning and " +
      "the dog runs over the field near the house with their friends " * 2
    val textRu = "дети играют на улице утром и собака бежит по парку пока " +
      "женщина покупает хлеб возле реки и говорит о погоде " * 2
    val textEs = "los amigos juegan en la calle por la manana y el pan que " +
      "compra la senora esta caliente mientras hablan del pueblo " * 2
    val textFr = "les amis jouent dans la rue pendant que le chien court " +
      "dans le parc et la femme achete du pain pour le dejeuner " * 2
    val src = tempDir("graftmain-lang-src")
    Seq((1L, textEn, "srcA"), (2L, textRu, "srcA"), (3L, textEs, "srcZero"),
        (4L, textFr, "srcA"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val store = tempDir("graftmain-lang-store")
    val spec =
      s"""{
         |  "sourcePath": "$src",
         |  "schemaDdl": "doc_id BIGINT, text STRING, source STRING",
         |  "storePath": "$store",
         |  "checkpointPath": "${tempDir("graftmain-lang-ckpt")}",
         |  "langRates": "en:100,ru:0,es:0",
         |  "mixRates": "srcZero:0",
         |  "stopAfterBackfill": true
         |}""".stripMargin
    GraftMain.run(spark, env("corpus-build-stream", spec)) shouldBe ExitCodes.Success
    val ledger = spark.read.parquet(s"$store/build_ledger")
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    ledger(1L) shouldBe "keep"
    ledger(2L) shouldBe "drop_lang"
    ledger(3L) shouldBe "drop_lang" // outranks the 0%-source mix drop
    ledger(4L) shouldBe "keep" // unlisted language takes the default
  }

  it should "host the LM-quality-gated decision surface (round 15)" in {
    import spark.implicits._
    // LM trained on clean prose; a gibberish arrival's bigrams are all
    // OOV (pu = 1/(nn+vn) = 1/50 → per-term surprise 5e8 → x5 = 5000)
    // while in-corpus text stays low (pb ≈ 1 → x5 ≈ 11) — weights
    // (0,0,0,0,-0.001) with mid5=50 make the x5 feature the whole
    // verdict: clean keeps (score +0.039), gibberish drops (−4.95)
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val junk = "qzx wvu tsr qpo nml kji hgf edc ba9 87z " * 4
    val lmDir = tempDir("graftmain-qlm-corpus")
    Seq((100L, textA)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(lmDir)
    val src = tempDir("graftmain-qlm-src")
    Seq((1L, textA), (2L, junk)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val store = tempDir("graftmain-qlm-store")
    val spec =
      s"""{
         |  "sourcePath": "$src",
         |  "schemaDdl": "doc_id BIGINT, text STRING",
         |  "storePath": "$store",
         |  "checkpointPath": "${tempDir("graftmain-qlm-ckpt")}",
         |  "qualityWeights": "0:0,0:0,0:0,0:0,-0.001:50",
         |  "qualityStopwords": "the,a,of",
         |  "qualityLmCorpusPath": "$lmDir",
         |  "stopAfterBackfill": true
         |}""".stripMargin
    GraftMain.run(spark, env("dedup-decision", spec)) shouldBe ExitCodes.Success
    val dec = graft.streaming.StreamingDecision.decisions(spark, store)
      .select("doc_id", "decision")
      .as[(Long, String)].collect().toMap
    dec(1L) shouldBe "keep"
    dec(2L) shouldBe "drop_quality"
  }

  it should "fall back to shuffle joins when the LM tables exceed the broadcast guard (VERDICT r15 #5)" in {
    import spark.implicits._
    // same fixture as the LM test, with qualityLmBroadcastMaxRows: 1 —
    // the counted vocabulary tables exceed it, so every micro-batch
    // scores x5 through shuffle joins. The degradation contract:
    // identical verdicts, only the join strategy changes.
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val junk = "qzx wvu tsr qpo nml kji hgf edc ba9 87z " * 4
    val lmDir = tempDir("graftmain-qguard-corpus")
    Seq((100L, textA)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(lmDir)
    val src = tempDir("graftmain-qguard-src")
    Seq((1L, textA), (2L, junk)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val store = tempDir("graftmain-qguard-store")
    val spec =
      s"""{
         |  "sourcePath": "$src",
         |  "schemaDdl": "doc_id BIGINT, text STRING",
         |  "storePath": "$store",
         |  "checkpointPath": "${tempDir("graftmain-qguard-ckpt")}",
         |  "qualityWeights": "0:0,0:0,0:0,0:0,-0.001:50",
         |  "qualityStopwords": "the,a,of",
         |  "qualityLmCorpusPath": "$lmDir",
         |  "qualityLmBroadcastMaxRows": 1,
         |  "stopAfterBackfill": true
         |}""".stripMargin
    GraftMain.run(spark, env("dedup-decision", spec)) shouldBe ExitCodes.Success
    val dec = graft.streaming.StreamingDecision.decisions(spark, store)
      .select("doc_id", "decision")
      .as[(Long, String)].collect().toMap
    dec(1L) shouldBe "keep"
    dec(2L) shouldBe "drop_quality"
  }

  it should "parse comma-list qualityStopwords into a live x3 feature (ADVICE r15)" in {
    import spark.implicits._
    // x3 (stopword-hit ratio e4) is the ONLY nonzero weight, so the
    // verdict hinges on the stopword list actually parsing from the
    // documented textual comma form: "the a of cat" → hits 3/4 →
    // x3 = 7500 → score 0.001·(7500−5000) = +2.5 keep; stopword-free
    // text → x3 = 0 → score −5 drop. Before the comma-split fix,
    // stringList returned Nil for a textual node and BOTH docs scored
    // x3 = 0 → both would drop.
    val withStops = "the a of cat " * 5
    val noStops = "cat dog bird fish " * 5
    // doc 3 has no shingle support (< 3 tokens): with a quality tier
    // configured it must DROP, the batch gate's exclusion rule
    // (ADVICE r15 — previously it silently kept)
    val src = tempDir("graftmain-x3-src")
    Seq((1L, withStops), (2L, noStops), (3L, "tiny doc")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val store = tempDir("graftmain-x3-store")
    val spec =
      s"""{
         |  "sourcePath": "$src",
         |  "schemaDdl": "doc_id BIGINT, text STRING",
         |  "storePath": "$store",
         |  "checkpointPath": "${tempDir("graftmain-x3-ckpt")}",
         |  "qualityWeights": "0:0,0:0,0.001:5000,0:0",
         |  "qualityStopwords": "the,a,of",
         |  "stopAfterBackfill": true
         |}""".stripMargin
    GraftMain.run(spark, env("dedup-decision", spec)) shouldBe ExitCodes.Success
    val dec = graft.streaming.StreamingDecision.decisions(spark, store)
      .select("doc_id", "decision")
      .as[(Long, String)].collect().toMap
    dec(1L) shouldBe "keep"
    dec(2L) shouldBe "drop_quality"
    dec(3L) shouldBe "drop_quality"
  }

  it should "reject a 5-weight quality spec without an LM corpus" in {
    val src = tempDir("graftmain-qbad-src")
    import spark.implicits._
    Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val reports = scala.collection.mutable.ArrayBuffer.empty[String]
    val spec =
      s"""{
         |  "sourcePath": "$src",
         |  "schemaDdl": "doc_id BIGINT, text STRING",
         |  "storePath": "${tempDir("graftmain-qbad-store")}",
         |  "checkpointPath": "${tempDir("graftmain-qbad-ckpt")}",
         |  "qualityWeights": "0:0,0:0,0:0,0:0,-0.001:50",
         |  "stopAfterBackfill": true
         |}""".stripMargin
    GraftMain.run(spark, env("dedup-decision", spec),
      statusReporter = reports += _) shouldBe ExitCodes.Fatal
    reports.mkString should include("qualityLmCorpusPath")
  }

  it should "exit FATAL for an unknown stream kind" in {
    GraftMain.run(spark, env("mystery", "{}")) shouldBe ExitCodes.Fatal
  }

  it should "exit FATAL when required spec fields are missing" in {
    // misconfiguration surfaces through the operator contract (the
    // runner's supervision maps the build failure to FATAL), not as an
    // unhandled crash
    val reports = scala.collection.mutable.ArrayBuffer.empty[String]
    GraftMain.run(spark, env("rest", """{"uriTemplate": "http://x?page=@page"}"""),
      statusReporter = reports += _) shouldBe ExitCodes.Fatal
    reports.mkString should include("is required")
  }
}
