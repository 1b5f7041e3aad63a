package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkFixture

class RollingHashSpec extends AnyFlatSpec with Matchers with SparkFixture {

  private def reference(s: String): Long =
    s.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 257L + (b & 0xff)) % 1000000007L)

  behavior of "RollingHash expression"

  it should "match the byte-fold reference across inputs" in {
    import spark.implicits._
    GraftFunctions.register(spark)
    val inputs = Seq("", "a", "abc", "the quick brown fox", "0123456789" * 50)
    val out = inputs.toDF("s")
      .select(expr("graft_rolling_hash(s)")).as[Long].collect()
    out.toSeq shouldBe inputs.map(reference)
  }

  it should "be order-sensitive (unlike a bag hash) and null-safe" in {
    import spark.implicits._
    GraftFunctions.register(spark)
    val out = Seq("ab", "ba").toDF("s")
      .select(expr("graft_rolling_hash(s)")).as[Long].collect()
    out(0) should not be out(1)
    Seq[String](null).toDF("s")
      .select(expr("graft_rolling_hash(s)")).collect().head.isNullAt(0) shouldBe true
  }

  it should "be registered once per session, not replaced on every register call" in {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    def builders = Seq("graft_rolling_hash", "graft_vector_dot", "graft_vector_sqdist",
      "graft_nfc", "graft_nfkc").map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)).get)
    GraftFunctions.register(spark)
    val first = builders
    GraftFunctions.register(spark)
    builders.zip(first).foreach { case (now, before) => (now eq before) shouldBe true }
  }

  behavior of "BottomKSketch aggregator"

  it should "keep the k smallest distinct values with a bounded buffer, any partitioning" in {
    import spark.implicits._
    val agg = new BottomKSketch(3)
    // reduce respects cap + dedup
    val reduced = Seq("d", "b", "d", "a", "c", "e").foldLeft(agg.zero)(agg.reduce)
    reduced shouldBe List("a", "b", "c")
    // merge is commutative and capped
    agg.merge(List("a", "z"), List("b", "a")) shouldBe List("a", "b", "z")
    // end-to-end: result independent of physical partitioning
    val data = (1 to 200).map(i => ("g" + (i % 3), f"v$i%03d"))
    def run(parts: Int) = data.toDF("g", "v").repartition(parts)
      .groupBy("g").agg(BottomKSketch(3)(col("v")).as("sk"))
      .orderBy("g").as[(String, Seq[String])].collect().toSeq
    run(1) shouldBe run(7)
    run(7).head._2 shouldBe Seq("v003", "v006", "v009") // g0's smallest
  }

  behavior of "VectorSqDist expression"

  it should "match the interpreted squared-distance fold bit-for-bit, mixed float/double" in {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(11)
    val rows = (1 to 50).map(_ =>
      ((1 to 16).map(_ => rnd.nextFloat()),
        (1 to 16).map(_ => rnd.nextDouble()))) // float vs DOUBLE side — the k-means mix
    val df = rows.toDF("a", "b")
    val native = df.select(expr("graft_vector_sqdist(a, b)")).as[Double].collect()
    val hof = df.select(expr(
      """aggregate(zip_with(a, b, (x, y) -> (cast(x as double) - cast(y as double))
        |  * (cast(x as double) - cast(y as double))),
        |  cast(0 as double), (acc, v) -> acc + v)""".stripMargin)).as[Double].collect()
    native.map(java.lang.Double.doubleToLongBits).toSeq shouldBe
      hof.map(java.lang.Double.doubleToLongBits).toSeq
    // and the all-float side too
    val ff = rows.map { case (a, b) => (a, b.map(_.toFloat)) }.toDF("a", "b")
    val nf = ff.select(expr("graft_vector_sqdist(a, b)")).as[Double].collect()
    val hf = ff.select(expr(
      """aggregate(zip_with(a, b, (x, y) -> (cast(x as double) - cast(y as double))
        |  * (cast(x as double) - cast(y as double))),
        |  cast(0 as double), (acc, v) -> acc + v)""".stripMargin)).as[Double].collect()
    nf.map(java.lang.Double.doubleToLongBits).toSeq shouldBe
      hf.map(java.lang.Double.doubleToLongBits).toSeq
  }

  behavior of "VectorDot expression"

  it should "match the interpreted zip_with/aggregate fold bit-for-bit" in {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map(_ =>
      (Seq.fill(64)(rnd.nextFloat() - 0.5f), Seq.fill(64)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("a", "b")
    val native = df.select(expr("graft_vector_dot(a, b)")).as[Double].collect()
    val hof = df.select(expr(
      """aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)),
        |  cast(0 as double), (acc, v) -> acc + v)""".stripMargin)).as[Double].collect()
    // bit-identical, not approximately equal — same IEEE op sequence
    native.map(java.lang.Double.doubleToLongBits).toSeq shouldBe
      hof.map(java.lang.Double.doubleToLongBits).toSeq
  }

  it should "handle length mismatch and reject non-float-array inputs" in {
    import spark.implicits._
    GraftFunctions.register(spark)
    Seq((Seq(1f, 2f, 3f), Seq(10f, 10f)))
      .toDF("a", "b").select(expr("graft_vector_dot(a, b)"))
      .as[Double].head() shouldBe 30.0
    an[Exception] should be thrownBy
      Seq((1, 2)).toDF("a", "b").select(expr("graft_vector_dot(a, b)")).collect()
  }

  it should "run inside whole-stage codegen with correct results" in {
    import spark.implicits._
    GraftFunctions.register(spark)
    // range source ⇒ codegen'd stage (a local relation would be
    // constant-folded before ever reaching the generated code path)
    val df = spark.range(3)
      .select(expr("graft_rolling_hash(cast(id as string))").as("h"), col("id"))
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    df.queryExecution.executedPlan.toString should include("*(1) Project [graft_rolling_hash")
    val out = df.orderBy("id").select("h").as[Long].collect()
    out.toSeq shouldBe Seq("0", "1", "2").map(reference)
  }
}
