package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.LoneElement
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkFixture
import graft.model._

/** End-to-end CDM pipeline over a generated SampleData-style layout —
  * the Scala analogue of the reference's CdmChangeFeedSourceTests
  * (backfill/incremental/total row counts 11/8/19, the shape of
  * CdmChangeFeedSourceTests.cs:33-35) plus the full sink-layout and
  * COMPLETED-token matrix (ParquetSinkTests.cs:174-310) through the
  * hosted `cdm` kind (`GraftMain.run`).
  */
class CdmEndToEndSpec extends AnyFlatSpec with Matchers with LoneElement with SparkFixture {

  private val entity = "Widget"

  /** CDM entity document: change-feed shape (5 CDC columns + payload). */
  private val feedCdmJson =
    """{
      |  "jsonSchemaSemanticVersion": "1.4.0",
      |  "definitions": [
      |    {
      |      "entityName": "Widget",
      |      "hasAttributes": [
      |        {"name": "Start_LSN", "dataFormat": "String"},
      |        {"name": "End_LSN", "dataFormat": "String"},
      |        {"name": "DML_Action", "dataFormat": "String"},
      |        {"name": "Seq_Val", "dataFormat": "String"},
      |        {"name": "Update_Mask", "dataFormat": "String"},
      |        {"name": "RECID", "dataFormat": "Int64"},
      |        {"name": "NAME", "dataFormat": "String"},
      |        {"name": "QTY", "dataFormat": "Int32"}
      |      ]
      |    }
      |  ]
      |}""".stripMargin

  /** Base-entity document: _SysRowId/LSN instead of the CDC columns. */
  private val baseCdmJson =
    """{
      |  "jsonSchemaSemanticVersion": "1.4.0",
      |  "definitions": [
      |    {
      |      "entityName": "Widget",
      |      "hasAttributes": [
      |        {"name": "_SysRowId", "dataFormat": "String"},
      |        {"name": "LSN", "dataFormat": "String"},
      |        {"name": "RECID", "dataFormat": "Int64"},
      |        {"name": "NAME", "dataFormat": "String"},
      |        {"name": "QTY", "dataFormat": "Int32"}
      |      ]
      |    }
      |  ]
      |}""".stripMargin

  /** Feed document with an added column — the drift fixture (the
    * reference's SchemaChangeTests.cdm.json role). */
  private val driftedFeedCdmJson = feedCdmJson.replace(
    """{"name": "QTY", "dataFormat": "Int32"}""",
    """{"name": "QTY", "dataFormat": "Int32"},
      |        {"name": "ADDED", "dataFormat": "String"}""".stripMargin)

  /** Base document for the partition subfolder: NAME/QTY order swapped
    * — folder-local schema resolution must honor it
    * (CdmChangeFeedSource.cs:222-241). */
  private val baseSwappedCdmJson = baseCdmJson.replace(
    """{"name": "NAME", "dataFormat": "String"},
      |        {"name": "QTY", "dataFormat": "Int32"}""".stripMargin,
    """{"name": "QTY", "dataFormat": "Int32"},
      |        {"name": "NAME", "dataFormat": "String"}""".stripMargin)

  /** Write the SampleData-style layout: 11 base rows (6 at the entity
    * root + 5 in a partition subfolder with a swapped-column local
    * schema), 8 change-feed rows — the reference's counts. */
  private def writeFixture(): String = {
    val root = tempDir("cdm-e2e")
    Files.createDirectories(Paths.get(s"$root/Tables/$entity/2024"))
    Files.createDirectories(Paths.get(s"$root/ChangeFeed/$entity"))
    Files.writeString(Paths.get(s"$root/Tables/$entity/$entity.cdm.json"), baseCdmJson)
    Files.writeString(Paths.get(s"$root/Tables/$entity/2024/$entity.cdm.json"),
      baseSwappedCdmJson)
    Files.writeString(Paths.get(s"$root/ChangeFeed/$entity.cdm.json"), feedCdmJson)
    def baseRow(i: Int) = s"row$i,0X0$i,$i,name$i,${i * 10}"
    def swappedRow(i: Int) = s"row$i,0X0$i,$i,${i * 10},name$i" // QTY before NAME
    Files.writeString(Paths.get(s"$root/Tables/$entity/WIDGET_00001.csv"),
      (1 to 6).map(baseRow).mkString("\n"))
    Files.writeString(Paths.get(s"$root/Tables/$entity/2024/WIDGET_00002.csv"),
      (7 to 11).map(swappedRow).mkString("\n"))
    def feedRow(i: Int, action: String) =
      s""""0XA$i",,"$action","0XS$i","0XFF",${100 + i},feed$i,${i * 7}"""
    Files.writeString(Paths.get(s"$root/ChangeFeed/$entity/batch1.csv"),
      ((1 to 5).map(feedRow(_, "INSERT")) ++
        (6 to 8).map(feedRow(_, "AFTER_UPDATE"))).mkString("\n"))
    root
  }

  behavior of "CdmSource backfill + incremental (reference counts 11/8/19)"

  it should "read 11 backfill rows normalized to feed shape" in {
    val cdm = CdmSource(spark, writeFixture(), entity)
    val bf = cdm.backfill()
    bf.count() shouldBe 11
    // normalize: injected constants + rename + merge key from RECID
    bf.columns.toSeq shouldBe (cdm.feedSchema().fieldNames.toSeq :+ Constants.MergeKeyColumn)
    bf.select(countDistinct(col("DML_Action"))).head().getLong(0) shouldBe 1
    bf.select("DML_Action").head().getString(0) shouldBe "INSERT"
    bf.filter(col(Constants.MergeKeyColumn) === "5").count() shouldBe 1
    // folder-local schema honored: the swapped-column subfolder rows
    // still land QTY in QTY (sum over i*10 for i=1..11)
    bf.agg(sum("QTY")).head().getLong(0) shouldBe 660L
    bf.filter(col("RECID") === 9).select("NAME").head().getString(0) shouldBe "name9"
  }

  it should "read 8 incremental rows and 19 in total" in {
    val cdm = CdmSource(spark, writeFixture(), entity)
    val ch = cdm.changes()
    ch.count() shouldBe 8
    ch.filter(col("DML_Action") === "AFTER_UPDATE").count() shouldBe 3
    cdm.backfill().unionByName(ch).count() shouldBe 19
  }

  it should "abort on schema drift" in {
    val root = writeFixture()
    val cdm = CdmSource(spark, root, entity)
    val frozen = cdm.feedSchema()
    cdm.checkDrift(frozen) // identical: no throw
    Files.writeString(Paths.get(s"$root/ChangeFeed/$entity.cdm.json"), driftedFeedCdmJson)
    a[SchemaMismatchException] should be thrownBy cdm.checkDrift(frozen)
  }

  behavior of "CDM stream through the arcane sink (token matrix)"

  private def layout(target: String) = {
    val dir = new java.io.File(target)
    // drop local-FS checksum shadows (.<name>.crc) — a RawLocalFileSystem
    // artifact absent on object stores
    def ls(sub: String): Seq[String] = {
      val d = new java.io.File(dir, sub)
      Option(d.listFiles()).map(_.map(_.getName).toSeq).getOrElse(Nil)
        .filterNot(_.startsWith("."))
    }
    (ls("data"), ls("schema"), ls(""))
  }

  /** Run the hosted `cdm` kind over `root` the way the operator does:
    * STREAMCONTEXT__* env → GraftMain.run. A backfill stops after the
    * drain; a stream runs until it fails or is stopped. */
  private def runCdm(root: String, sink: String, ckpt: String, backfill: Boolean,
      statuses: String => Unit = _ => ()): Int = {
    val spec =
      s"""{"rootPath": "$root", "entityName": "$entity",
         | "sinkPath": "$sink", "checkpointPath": "$ckpt",
         | "stopAfterBackfill": true}""".stripMargin
    graft.runtime.GraftMain.run(spark, Map(
      StreamContext.StreamIdVar -> "cdm-e2e",
      StreamContext.StreamKindVar -> "cdm",
      StreamContext.BackfillVar -> backfill.toString,
      StreamContext.SpecVar -> spec), statusReporter = statuses)
  }

  it should "drain the feed, write the full layout, and publish one token on graceful completion" in {
    val root = writeFixture()
    val target = tempDir("cdm-sink")
    // AvailableNow drains every change-feed file then terminates
    runCdm(root, target, tempDir("cdm-ckpt"), backfill = true) shouldBe ExitCodes.Success

    val (data, schemaFiles, rootFiles) = layout(target)
    val tokens = rootFiles.filter(_.endsWith(".COMPLETED"))
    tokens.size shouldBe 1
    val hash = tokens.head.stripSuffix(".COMPLETED")
    hash.length shouldBe 7 // the SAME short hash everywhere
    data should not be empty
    all(data) should (startWith("part-") and endWith(s"-$hash-chunk.parquet"))
    schemaFiles.size shouldBe 1
    schemaFiles.head should (startWith("schema-") and endWith(s"-$hash.parquet"))
    // the written rows round-trip with the merge key
    val written = spark.read.parquet(s"$target/data")
    written.count() shouldBe 8
    written.columns should contain(Constants.MergeKeyColumn)
  }

  it should "suppress the token when the stream fails" in {
    val root = writeFixture()
    val dir = tempDir("cdm-sink-fail")
    // a regular file where the sink expects its directory: the first
    // micro-batch's write fails
    val target = s"$dir/sink"
    Files.writeString(Paths.get(target), "not a directory")
    val statuses = scala.collection.mutable.ListBuffer[String]()
    runCdm(root, target, tempDir("cdm-ckpt-fail"), backfill = true,
      statuses += _) shouldBe ExitCodes.Fatal
    statuses.loneElement should startWith("fatal: ")
    Files.isRegularFile(Paths.get(target)) shouldBe true
    new java.io.File(dir).list().filter(_.endsWith(".COMPLETED")) shouldBe empty // Times.Never
  }

  it should "stop on drift mid-stream, exit SUCCESS, and never publish the token" in {
    val root = writeFixture()
    val target = tempDir("cdm-sink-drift")
    val ckpt = tempDir("cdm-ckpt-drift")
    // the backfill drains batch1.csv and freezes the feed schema
    runCdm(root, target, ckpt, backfill = true) shouldBe ExitCodes.Success
    val (_, _, before) = layout(target)
    before.count(_.endsWith(".COMPLETED")) shouldBe 1

    // the feed declaration gains a column, and a file in the new shape lands
    Files.writeString(Paths.get(s"$root/ChangeFeed/$entity.cdm.json"), driftedFeedCdmJson)
    Files.writeString(Paths.get(s"$root/ChangeFeed/$entity/batch2.csv"),
      s""""0XA9",,"INSERT","0XS9","0XFF",999,drifted,63,extra""")

    // the stream on the same checkpoint checks the new batch before writing it
    val statuses = scala.collection.mutable.ListBuffer[String]()
    runCdm(root, target, ckpt, backfill = false, statuses += _) shouldBe ExitCodes.Success
    statuses.loneElement should startWith("schema-mismatch: ")
    val (_, _, after) = layout(target)
    after.filter(_.endsWith(".COMPLETED")) shouldBe before.filter(_.endsWith(".COMPLETED"))
    val written = spark.read.parquet(s"$target/data")
    written.count() shouldBe 8
    written.filter(col("RECID") === 999L).count() shouldBe 0
  }
}
