package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkFixture
import graft.ext.{Similarity, TextOps}
import graft.streaming.StreamingDecision

class GraftFunctionsSpec extends AnyFlatSpec with Matchers with SparkFixture {

  behavior of "GraftFunctions typed constructors"

  it should "run the engine's native-expression paths on a session with nothing registered" in {
    val s = spark.newSession()
    import s.implicits._

    // TextOps: NFC composes e + U+0301 to é, space runs collapse
    Seq("cafe\u0301  x").toDF("t")
      .select(TextOps.normalizeText(col("t"))).as[String].collect()
      .toSeq shouldBe Seq("caf\u00e9 x")

    // Similarity: the L2 norm and the cosine over alias-qualified names
    val pad = Seq.fill(61)(0f)
    val e = Similarity.withNorm(Seq(
        (0L, Seq(1f, 0f, 0f) ++ pad),
        (1L, Seq(1f, 0.1f, 0f) ++ pad),
        (2L, Seq(0f, 1f, 0f) ++ pad),
        (3L, Seq(-1f, 0f, 0f) ++ pad)).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    e.filter(col("vec_id") === 1L).select("nrm").as[Double].head() shouldBe
      math.sqrt(1.0 + 0.1f.toDouble * 0.1f)
    e.filter(col("vec_id") === 0L).alias("q").crossJoin(e.alias("n"))
      .filter(col("n.vec_id") =!= 0L)
      .select(col("n.vec_id"),
        round(Similarity.dot("q.embedding", "n.embedding") / (col("q.nrm") * col("n.nrm"))
          * 10000).cast("long"))
      .orderBy("vec_id").as[(Long, Long)].collect()
      .toSeq shouldBe Seq(1L -> 9950L, 2L -> 0L, 3L -> -10000L)

    // StreamingDecision: a semantic-tier claim (the cell read and the
    // cosine inside the store-slice lambda)
    val oneHot = (pos: Int) => Seq.tabulate(64)(i => if (i == pos) 1f else 0f)
    val cents: Seq[(Long, Array[Double])] = Seq(
      0L -> Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0),
      1L -> Array.tabulate(64)(i => if (i == 32) 1.0 else 0.0))
    val store = tempDir("native-fresh")
    def decide(key: String, rows: (Long, String, Seq[Float])*) =
      StreamingDecision.processBatch(rows.toDF("doc_id", "text", "embedding"),
          "doc_id", "text", Some("embedding"), store, cents, key)
        .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2 -> r._3)).toMap
    decide("0", (10L, "the quick brown fox jumps over the lazy dog", oneHot(0)))(10L) shouldBe
      ("keep" -> 10L)
    decide("1", (31L, "orchestra rehearsals begin with tuning strings", oneHot(0)))(31L) shouldBe
      ("drop_semantic" -> 10L)

    Seq("graft_vector_dot", "graft_vector_sqdist", "graft_nfc", "graft_nfkc",
      "graft_rolling_hash").filter(n =>
      s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n))) shouldBe empty
  }
}
