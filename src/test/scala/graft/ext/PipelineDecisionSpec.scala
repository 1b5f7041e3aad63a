package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkFixture

/** VERDICT r9 #1: the corpus dedup decision is ONE surface with THREE
  * tiers — exact > near > semantic — and the precedence contract must
  * hold on docs claimed by more than one tier: a cheaper tier's drop
  * always wins, keeper = that tier's canonical member. Planted corpus:
  * each overlap case gets a doc pair whose membership in the tiers is
  * controlled independently (text identity, text near-identity,
  * embedding identity). */
class PipelineDecisionSpec extends AnyFlatSpec with Matchers with SparkFixture {

  // ~40-word sentences: one changed word alters 3 of ~38 shingles, so
  // exact Jaccard stays >= 0.8 (the near tier's verify threshold) and
  // the LSH bands still collide. Disjoint vocabulary across groups.
  private val textA =
    "the quick brown fox jumps over the lazy dog and runs far away into the green forest " +
      "while morning light spreads slowly across quiet hills where small birds gather seeds " +
      "beside the old stone wall near the river tonight"
  private val textB =
    "database engines schedule compaction tasks during idle windows so storage segments stay " +
      "balanced and query latency remains predictable even when ingestion bursts arrive from " +
      "many concurrent producers writing append only logs across partitioned durable volumes overnight"
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

  private val textF =
    "telescope arrays scan the southern sky every clear night recording faint pulsar timing " +
      "signals that drift slowly as interstellar plasma disperses each pulse differently across " +
      "receiver bands calibrated against atomic clocks in the observatory basement"

  private def oneHot(pos: Int): Seq[Float] =
    Seq.tabulate(64)(i => if (i == pos) 1f else 0f)

  private def decide(docRows: Seq[(Long, String)],
      embRows: Seq[(Long, Seq[Float])]): Map[Long, (String, Long)] = {
    import spark.implicits._
    val d: DataFrame = docRows.toDF("doc_id", "text")
    val e: DataFrame = embRows.toDF("vec_id", "embedding")
    ExtQueries.dedupDecision(d, e).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
  }

  behavior of "the three-tier dedup decision"

  it should "apply precedence exact > near > semantic with per-tier canonical keepers" in {
    val docRows = Seq[(Long, String)](
      0L -> textA,
      1L -> textA, // exact copy of 0
      2L -> textB,
      3L -> textB.replace("overnight", "today"), // near copy of 2
      4L -> textC,
      5L -> textD, // textually unrelated to 4; embedding-identical (semantic tier only)
      6L -> textE,
      7L -> textE.replace("apples", "pears"), // near copy of 6 AND embedding-identical
      8L -> textF,
      9L -> textF) // exact copy of 8 AND embedding-identical
    val embRows = Seq[(Long, Seq[Float])](
      0L -> oneHot(0), 1L -> oneHot(1), 2L -> oneHot(2), 3L -> oneHot(3),
      4L -> oneHot(20), 5L -> oneHot(20), // semantic pair (4,5)
      6L -> oneHot(30), 7L -> oneHot(30), // semantic pair (6,7) — near wins
      8L -> oneHot(40), 9L -> oneHot(40)) // semantic pair (8,9) — exact wins
    val out = decide(docRows, embRows)
    out(0L) shouldBe ("keep", 0L)
    out(1L) shouldBe ("drop_exact", 0L)
    out(2L) shouldBe ("keep", 2L)
    out(3L) shouldBe ("drop_near", 2L)
    out(4L) shouldBe ("keep", 4L)
    out(5L) shouldBe ("drop_semantic", 4L) // semantic-only pair, keeper = min id
    out(6L) shouldBe ("keep", 6L)
    out(7L) shouldBe ("drop_near", 6L) // near-dup AND semantic-dup: near wins
    out(8L) shouldBe ("keep", 8L)
    out(9L) shouldBe ("drop_exact", 8L) // exact-dup AND semantic-dup: exact wins
  }

  it should "label semantic clusters transitively with the component minimum" in {
    // a 3-member semantic chain (4-5, 5-... all same cell): every
    // non-minimum member drops to the SAME keeper — the component
    // label, not its nearest partner
    val docRows = Seq[(Long, String)](
      0L -> textA, 1L -> textB, 2L -> textC, 3L -> textD, 4L -> textE)
    val embRows = Seq[(Long, Seq[Float])](
      0L -> oneHot(0), 1L -> oneHot(1),
      2L -> oneHot(20), 3L -> oneHot(20), 4L -> oneHot(20))
    val out = decide(docRows, embRows)
    out(2L) shouldBe ("keep", 2L)
    out(3L) shouldBe ("drop_semantic", 2L)
    out(4L) shouldBe ("drop_semantic", 2L)
  }

  behavior of "the streaming corpus build vs the batch classifier build"

  it should "agree on every arrival-independent verdict; duplicate coverage matches per hash group" in {
    // The streaming build's quality gate (5-feature, broadcast LM;
    // shingle-less docs drop on BOTH sides — the r15 divergence
    // closed), decontamination and mixture verdicts are PURE per-doc
    // functions shared with pipeline_corpus_build_clf — on every doc
    // neither side claims as a duplicate, the two ledgers must agree
    // exactly. The deliberate divergences are keeper ELECTION
    // (arrival-order first-match vs global component minimum),
    // precedence (dedup before quality on the stream; quality gates
    // first in batch), and the semantic QUANTIZER (the stream
    // coarse-assigns against the persisted full-corpus VectorIndex;
    // batch trains on its gated survivor set) — so dup-class rows are
    // compared as coverage, not row-equality.
    val dir = "/root/testdata/sf0.001"
    val stream = ExtQueries.streamingCorpusBuildGolden(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = ExtQueries.pipelineCorpusBuildClf(spark, dir)
      .select("doc_id", "verdict")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    stream.keySet shouldBe batch.keySet
    val dupClasses = Set("drop_exact", "drop_near", "drop_semantic")
    val nonDup = stream.keySet.filter(id =>
      !dupClasses(stream(id)) && !dupClasses(batch(id)))
    nonDup.size should be > 50
    // arrival-independent verdicts agree exactly
    nonDup.foreach { id =>
      withClue(s"doc $id: ") { stream(id) shouldBe batch(id) }
    }
  }

  behavior of "the batch language gate (round 19)"

  it should "place drop_lang between contamination and mix with the streaming gate arithmetic" in {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    // The gated build differs from the ungated build ONLY at the
    // language gate, which sits between drop_contaminated and drop_mix
    // (the hosted streaming build's precedence) and uses the
    // STREAMING gate's exact arithmetic: trained char-bigram verdict
    // over the extracted text, `lang:`-salted md5 bucket, the planted
    // per-language policy with `unk` on the default pct. Recompute the
    // drop set with those expressions and require the two ledgers to
    // diverge exactly there and nowhere else.
    val dir = "/root/testdata/sf0.001"
    def vmap(df: DataFrame) = df.select("doc_id", "verdict")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val gated = vmap(ExtQueries.pipelineCorpusBuildLang(spark, dir))
    val ungated = vmap(ExtQueries.pipelineCorpusBuild(spark, dir))
    gated.keySet shouldBe ungated.keySet

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text")
    // corp = extracted docs past the fixture benchmark boundary (20)
    val corp = ExtQueries.extractStageOf(docs).filter(col("doc_id") >= 20L)
    val verdict = LangId.verdictOf(LangId.scoresArrayCol(col("text")))
    val lPct = Seq("en" -> 100L, "es" -> 60L, "de" -> 60L, "fr" -> 60L,
        "ru" -> 40L, "zh" -> 40L)
      .foldLeft(lit(null).cast("long")) { case (acc, (l, p)) =>
        when(verdict === l, lit(p)).otherwise(acc)
      }
    val lBucket = Dedup.shingleKey(
      concat(lit("lang:"), col("doc_id").cast("string"))) % 100
    val gateDrop = corp.select(col("doc_id"),
        (lBucket >= org.apache.spark.sql.functions.coalesce(lPct, lit(20L))).as("d"))
      .collect().filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    gateDrop.nonEmpty shouldBe true

    gated.keySet.foreach { id =>
      withClue(s"doc $id (ungated ${ungated(id)}, gate drop ${gateDrop(id)}): ") {
        ungated(id) match {
          // higher-precedence verdicts are untouched by the gate
          case v @ ("drop_quality" | "drop_exact" | "drop_near" |
                    "drop_semantic" | "drop_contaminated") =>
            gated(id) shouldBe v
          // the gate decides between contamination and mix
          case v @ ("keep" | "drop_mix") =>
            gated(id) shouldBe (if (gateDrop(id)) "drop_lang" else v)
          case other => fail(s"unexpected ungated verdict $other")
        }
      }
    }
    // both directions populated: some keeps survived, some were gated
    gated.values.count(_ == "drop_lang") should be > 0
    gated.values.count(_ == "keep") should be > 0
  }
}
