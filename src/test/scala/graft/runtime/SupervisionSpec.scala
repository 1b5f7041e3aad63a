package graft.runtime

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.model.{StreamContext, StreamSpec}

/** Rate limiting and the typed spec codecs (reference: Polly policy
  * RestApiSource.cs:444-447, UnixTimeConverter.cs:12-22,
  * SecondsToTimeSpanConverter.cs:12-21). */
class SupervisionSpec extends AnyFlatSpec with Matchers {

  behavior of "TokenBucket"

  it should "allow a burst then throttle to the sustained rate" in {
    var nanos = 0L
    val bucket = new TokenBucket(ratePerSecond = 10, burst = 3, clock = () => nanos)
    (1 to 3).foreach(_ => bucket.tryAcquire() shouldBe true)
    bucket.tryAcquire() shouldBe false // burst drained
    nanos += 100000000L // +100ms = one token at 10/s
    bucket.tryAcquire() shouldBe true
    bucket.tryAcquire() shouldBe false
  }

  it should "cap refill at the burst size" in {
    var nanos = 0L
    val bucket = new TokenBucket(ratePerSecond = 10, burst = 2, clock = () => nanos)
    bucket.tryAcquire() shouldBe true
    nanos += 10L * 1000000000L // 10s ≫ burst
    (1 to 2).foreach(_ => bucket.tryAcquire() shouldBe true)
    bucket.tryAcquire() shouldBe false
  }

  behavior of "StreamSpec codecs"

  it should "decode typed fields incl. unix-time and seconds-duration" in {
    val ctx = StreamContext("s", "k", isBackfilling = false,
      """{"table": "dbo.orders",
        |  "backfillStartDate": 1700000000,
        |  "changeCaptureInterval": 15,
        |  "nested": {"lookBackRange": 86400},
        |  "partitions": ["a", "b"],
        |  "enabled": true}""".stripMargin)
    val spec = StreamSpec.fromContext(ctx)
    spec.string("table") shouldBe Some("dbo.orders")
    spec.unixTime("backfillStartDate") shouldBe
      Some(java.time.Instant.ofEpochSecond(1700000000L))
    spec.secondsDuration("changeCaptureInterval") shouldBe
      Some(java.time.Duration.ofSeconds(15))
    spec.secondsDuration("nested.lookBackRange") shouldBe
      Some(java.time.Duration.ofSeconds(86400))
    spec.stringList("partitions") shouldBe Seq("a", "b")
    spec.boolean("enabled") shouldBe Some(true)
    spec.string("missing") shouldBe None
    spec.unixTime("table") shouldBe None // non-numeric text is not a time
  }

  it should "reject malformed spec JSON" in {
    an[Exception] should be thrownBy StreamSpec.parse("not json at all {")
  }
}
