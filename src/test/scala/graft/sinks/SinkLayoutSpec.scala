package graft.sinks

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkFixture
import graft.model.StreamPartition

/** Direct layout coverage for the JSON-lines sink, partition-metadata
  * delete-when-empty, file-size bounding, and the keyed path-addressed
  * sink (reference: MultilineJsonSink.cs:169-254,
  * PartitionsWriter.cs:37-47, JsonSink.cs:124-167). */
class SinkLayoutSpec extends AnyFlatSpec with Matchers with SparkFixture {

  private def files(dir: String, sub: String = ""): Seq[String] = {
    val d = new java.io.File(if (sub.isEmpty) dir else s"$dir/$sub")
    Option(d.listFiles()).map(_.map(_.getName).toSeq).getOrElse(Nil)
      .filterNot(_.startsWith("."))
  }

  behavior of "MultilineJsonSink"

  it should "write json-lines parts with the same short hash as schema and token" in {
    import spark.implicits._
    val target = tempDir("json-sink")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val sink = MultilineJsonSink(SinkConfig(target))
    sink.writeBatch(df)
    sink.complete(df)
    val hash = sink.schemaHash.get
    all(files(target, "data")) should (startWith("part-") and endWith(s"-$hash-chunk.json"))
    files(target, "schema").head should endWith(s"-$hash.parquet")
    files(target) should contain(s"$hash.COMPLETED")
    // the payload is real JSON-lines
    spark.read.json(s"$target/data").orderBy("id")
      .as[(Long, String)].collect().toSeq shouldBe Seq((1L, "a"), (2L, "b"))
  }

  behavior of "partitions metadata"

  it should "write partitions.json and delete it when partitions clear" in {
    import spark.implicits._
    val target = tempDir("pmeta")
    val df = Seq(1).toDF("x")
    val parts = Seq(StreamPartition("dt", "yyyyMM", "date_format(d,'yyyyMM')", isDatePartition = true))
    ArcaneLayout.writePartitionsMetadata(df, target, parts)
    val f = new java.io.File(s"$target/metadata/v0/partitions.json")
    f.exists() shouldBe true
    val json = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    json should include(""""field_name":"dt"""")
    json should include(""""is_date_partition":true""")
    // reference deletes the file when no partitions are configured
    ArcaneLayout.writePartitionsMetadata(df, target, Nil)
    f.exists() shouldBe false
  }

  behavior of "maxRecordsPerFile"

  it should "bound part-file size like the reference's rowGroupsPerFile" in {
    import spark.implicits._
    val target = tempDir("bounded")
    val df = (1 to 100).toDF("x").coalesce(1)
    val written = ArcaneLayout.writeDataBatch(df, target, maxRecordsPerFile = 30L)
    written.size should be >= 4 // 100 rows / 30 per file
    spark.read.parquet(s"$target/data").count() shouldBe 100
  }

  it should "compact small part-files preserving rows, naming scheme, and fresh appends" in {
    import spark.implicits._
    val target = tempDir("compacted")
    // ten 10-row batches → ten small parts with one schema hash
    (1 to 10).foreach { i =>
      ArcaneLayout.writeDataBatch(
        ((i * 100) until (i * 100 + 10)).toDF("x").coalesce(1), target): Unit
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    def parts = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$target/data/part-*-chunk.parquet"))
      .map(_.getPath.getName).toSeq
    parts.size shouldBe 10
    val hash = parts.head.split('-').init.last // trailing ...-<hash>-chunk.parquet

    // a file that lands AFTER the listing snapshot must survive — model
    // it by compacting, then checking a pre-planted fresh batch remains
    val newNames = ArcaneLayout.compact(spark, target, targetRecordsPerFile = 1000L)
    newNames.size shouldBe 1
    parts.size shouldBe 1
    parts.head should fullyMatch regex s"part-[0-9a-f-]+-$hash-chunk\\.parquet"
    spark.read.parquet(s"$target/data").as[Int].collect().sorted shouldBe
      (1 to 10).flatMap(i => (i * 100) until (i * 100 + 10)).sorted

    // appends after compaction coexist and a re-compact folds them in
    ArcaneLayout.writeDataBatch(Seq(9999).toDF("x"), target): Unit
    parts.size shouldBe 2
    ArcaneLayout.compact(spark, target, targetRecordsPerFile = 1000L)
    parts.size shouldBe 1
    spark.read.parquet(s"$target/data").count() shouldBe 101
  }

  behavior of "ArcaneLayout partitioned layout"

  it should "land one arcane-named part per touched partition and compact within each" in {
    import spark.implicits._
    val target = tempDir("partitioned")
    val NamePattern = "part-[0-9a-f-]+-[0-9a-f]{7}-chunk\\.parquet"
    def batch(from: Long) = (from until from + 200L).map(i => (i, (i % 16).toInt))
      .toDF("id", "bkt").coalesce(1)
    def partitions = files(target, "data").sorted
    ArcaneLayout.writeDataBatch(batch(0L), target, partitionColumns = Seq("bkt")): Unit
    partitions shouldBe (0 until 16).map(k => s"bkt=$k").sorted
    all(partitions.map(p => files(target, s"data/$p"))) should have size 1
    all(partitions.flatMap(p => files(target, s"data/$p"))) should fullyMatch regex NamePattern
    new java.io.File(target).list().filter(_.startsWith(".staging-")) shouldBe empty

    // a second batch doubles every partition's parts; compact folds each
    // partition's two back into one, inside its own subdirectory
    ArcaneLayout.writeDataBatch(batch(200L), target, partitionColumns = Seq("bkt")): Unit
    all(partitions.map(p => files(target, s"data/$p"))) should have size 2
    ArcaneLayout.compact(spark, target, targetRecordsPerFile = 1000L) should have size 16
    partitions shouldBe (0 until 16).map(k => s"bkt=$k").sorted
    (0 until 16).foreach { k =>
      files(target, s"data/bkt=$k") should have size 1
      val ids = spark.read.parquet(s"$target/data/bkt=$k").as[Long].collect()
      ids.sorted.toSeq shouldBe (0L until 400L).filter(_ % 16 == k)
    }
  }

  behavior of "ArcaneLayoutReader (the consumer contract)"

  it should "gate on the token, then merge duplicates by key and apply deletes" in {
    import spark.implicits._
    val target = tempDir("reader")
    val sink = new ArcaneParquetSink(SinkConfig(target))
    // at-least-once producer: key k1 upserted twice then deleted; k2 survives
    val batch1 = Seq(("k1", 1L, "I", "v1"), ("k2", 1L, "I", "x1"))
      .toDF("ARCANE_MERGE_KEY", "SYS_CHANGE_VERSION", "SYS_CHANGE_OPERATION", "payload")
    val batch2 = Seq(("k1", 2L, "U", "v2"), ("k1", 3L, "D", null.asInstanceOf[String]))
      .toDF("ARCANE_MERGE_KEY", "SYS_CHANGE_VERSION", "SYS_CHANGE_OPERATION", "payload")
    sink.writeBatch(batch1)
    sink.writeBatch(batch2)

    // no token yet: consuming must fail
    an[ArcaneLayoutReader.IncompleteOutputException] should be thrownBy
      ArcaneLayoutReader.readRaw(spark, target)

    sink.complete(batch1)
    ArcaneLayoutReader.readRaw(spark, target).count() shouldBe 4
    val merged = ArcaneLayoutReader.readMerged(spark, target)
      .select("ARCANE_MERGE_KEY", "payload").as[(String, String)].collect().toMap
    merged shouldBe Map("k2" -> "x1") // k1's latest version is the delete
  }

  behavior of "KeyedJsonSink"

  it should "land records under literal nested paths with {timestamp, body}" in {
    import spark.implicits._
    val root = tempDir("keyed")
    val df = Seq(
      ("tenant1/2024/01", "2024-01-01T00:00:00Z", """{"a":1}"""),
      ("tenant1/2024/02", "2024-02-01T00:00:00Z", """{"a":2}"""),
      ("tenant2", "2024-01-05T00:00:00Z", """{"b":3}"""))
      .toDF("path", "timestamp", "body")
    KeyedJsonSink.writeBatch(df, root)
    // literal nested directories, exactly where a reference consumer looks
    new java.io.File(s"$root/tenant1/2024/01").isDirectory shouldBe true
    new java.io.File(s"$root/tenant2").isDirectory shouldBe true
    val rows = spark.read.json(s"$root/tenant1/2024/01")
    rows.columns.sorted.toSeq shouldBe Seq("body", "timestamp")
    rows.select("body").head().getString(0) shouldBe """{"a":1}"""
    // appending a second batch merges into the existing directory
    KeyedJsonSink.writeBatch(
      Seq(("tenant2", "2024-01-06T00:00:00Z", """{"b":4}""")).toDF("path", "timestamp", "body"),
      root)
    spark.read.json(s"$root/tenant2").count() shouldBe 2
  }

  it should "reject data-driven path traversal out of the sink root" in {
    // ADVICE r2: a path value with '..' segments (or an absolute path)
    // must not resolve outside rootPath
    import spark.implicits._
    val root = tempDir("keyed-traversal")
    an[IllegalArgumentException] should be thrownBy KeyedJsonSink.writeBatch(
      Seq(("../escape", "2024-01-01T00:00:00Z", """{"a":1}"""))
        .toDF("path", "timestamp", "body"), root)
    an[IllegalArgumentException] should be thrownBy KeyedJsonSink.writeBatch(
      Seq(("/abs/path", "2024-01-01T00:00:00Z", """{"a":1}"""))
        .toDF("path", "timestamp", "body"), root)
    new java.io.File(s"$root/../escape").exists() shouldBe false
  }
}
