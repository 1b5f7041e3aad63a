package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.model.Constants
import graft.ops.ColumnOps
import graft.schema.{CdmSchema, SchemaOps}

/** Microsoft CDM change-feed source (Dynamics/Synapse export layout),
  * rebuilt Spark-first (reference:
  * src/Sources/CdmChangeFeedSource/CdmChangeFeedSource.cs; SURVEY.md
  * §2.1 S3).
  *
  * Layout read (csv globs elided):
  * {{{
  * <root>/ChangeFeed/<entity>.cdm.json       feed schema (positional CSV)
  * <root>/ChangeFeed/<entity>/               incremental change batches
  * <root>/Tables/<entity>/<ENTITY>_nnnnn.csv base entity (backfill)
  * }}}
  *
  * Backfill = batch read over Tables/ normalized to feed shape;
  * incremental = Structured Streaming file source over ChangeFeed/
  * (Spark's FileStreamSource tracks seen files in the checkpoint —
  * strictly stronger than the reference's in-memory LastModified
  * watermark, SURVEY.md §2.8). The merge key is RECID copied to
  * ARCANE_MERGE_KEY (CdmChangeFeedSource.cs:266-272).
  *
  * Scale: CSV parsing is fully distributed; schema is resolved once on
  * the driver; `maxFilesPerTrigger` bounds micro-batch size at high
  * file arrival rates.
  */
final class CdmSource(
    spark: SparkSession,
    rootPath: String,
    entityName: String) {

  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def readText(p: Path): String = {
    val in = fsOf(p).open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Feed schema declared by `<root>/ChangeFeed/<entity>.cdm.json`
    * (reference: CdmChangeFeedSource.cs:138-145). */
  def feedSchema(): StructType =
    CdmSchema.fromJson(
      readText(new Path(s"$rootPath/ChangeFeed/$entityName.cdm.json")))

  /** Base-entity schema for backfill. Folder-local variants are allowed
    * by the export format; this resolves the one at the entity folder. */
  def baseSchema(): StructType =
    CdmSchema.fromJson(
      readText(new Path(s"$rootPath/Tables/$entityName/$entityName.cdm.json")))

  private val csvOptions = Map(
    "multiLine" -> "true", // quoted newlines, reference CsvOperations.cs:84-97
    "quote" -> "\"",
    "escape" -> "\"", // ""-escape inside quoted fields
    "header" -> "false",
    "mode" -> "FAILFAST", // arity mismatch = SchemaInconsistent, fail loud
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSS]['Z']")

  /** Backfill: read all base-entity CSVs and normalize to feed shape
    * (inject End_LSN/DML_Action='INSERT'/Seq_Val/Update_Mask, rename
    * LSN→Start_LSN, drop _SysRowId, reorder; reference:
    * CdmChangeFeedSource.cs:222-294).
    *
    * Schemas are resolved PER FOLDER: each CSV parses against the
    * `<entity>.cdm.json` sitting next to it, falling back to the
    * entity-level document — partitioned Dynamics exports redeclare the
    * schema per partition folder and column order may differ between
    * them (reference: CdmChangeFeedSource.cs:222-241 resolves the
    * schema from each blob's own path). The driver does one recursive
    * listing; each folder's CSVs are still read as one distributed
    * scan, and the per-folder frames align by feed column order before
    * the union. */
  def backfill(): DataFrame = {
    val feed = feedSchema()
    val outputColumns = feed.fieldNames.toSeq :+ Constants.MergeKeyColumn
    val fs = fsOf(new Path(rootPath))
    val prefix = s"${entityName.toUpperCase}_"
    val files = {
      val b = Vector.newBuilder[Path]
      val it = fs.listFiles(new Path(s"$rootPath/Tables/$entityName"), true)
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (name.startsWith(prefix) && name.endsWith(".csv")) b += f.getPath
      }
      b.result()
    }
    val frames = files.groupBy(_.getParent).toSeq
      .sortBy(_._1.toString)
      .map { case (folder, folderFiles) =>
        val localSchema = new Path(folder, s"$entityName.cdm.json")
        val schema =
          if (fs.exists(localSchema)) CdmSchema.fromJson(readText(localSchema))
          else baseSchema()
        val raw = spark.read.options(csvOptions).schema(schema)
          .csv(folderFiles.map(_.toString).sorted: _*)
        ColumnOps.cdmBackfillNormalize(
          ColumnOps.withMergeKeyFrom(raw, "RECID"), outputColumns)
      }
    if (frames.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(
          feed.fields :+ org.apache.spark.sql.types.StructField(
            Constants.MergeKeyColumn, org.apache.spark.sql.types.StringType)))
    else frames.reduce(_ unionByName _)
  }

  /** Incremental batch read of change-feed CSVs, optionally filtered by
    * modification time (the reference's lookback window,
    * CdmChangeFeedSource.cs:299-300). */
  def changes(modifiedAfter: Option[java.time.Instant] = None): DataFrame = {
    val feed = feedSchema()
    val reader = spark.read.options(csvOptions).schema(feed)
    val withLookback = modifiedAfter.fold(reader)(t =>
      reader.option("modifiedAfter",
        java.time.format.DateTimeFormatter.ISO_INSTANT.format(t)))
    val raw = withLookback.csv(s"$rootPath/ChangeFeed/$entityName/*.csv")
    ColumnOps.withMergeKeyFrom(raw, "RECID")
  }

  /** Incremental stream over the change-feed folder. The checkpoint's
    * file log replaces the reference's in-memory watermark. */
  def stream(maxFilesPerTrigger: Int = 1000): DataFrame = {
    val feed = feedSchema()
    val raw = spark.readStream
      .options(csvOptions)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(feed)
      .csv(s"$rootPath/ChangeFeed/$entityName/*.csv")
    ColumnOps.withMergeKeyFrom(raw, "RECID")
  }

  /** Schema-drift check: re-read the feed schema and compare to the
    * frozen one; throws SchemaMismatchException on change (reference:
    * CdmChangeFeedSource.cs:374-404). The hosted `cdm` kind calls it at
    * the start of every micro-batch, before the write. */
  def checkDrift(frozen: StructType): Unit =
    SchemaOps.requireNoDrift(frozen, feedSchema())

  /** The feed schema a stream on `checkpoint` checks drift against,
    * kept at `<checkpoint>/feed-schema.json`. `refreeze` (a backfill)
    * freezes the current declaration; otherwise the one the checkpoint
    * already holds stays, so a stream restarted on it still stops for
    * drift that happened while it was down. */
  def frozenFeedSchema(checkpoint: String, refreeze: Boolean): StructType = {
    val p = new Path(checkpoint, "feed-schema.json")
    val fs = fsOf(p)
    if (!refreeze && fs.exists(p))
      DataType.fromJson(readText(p)).asInstanceOf[StructType]
    else {
      val schema = feedSchema()
      val out = fs.create(p, true)
      try out.write(schema.json.getBytes(StandardCharsets.UTF_8)) finally out.close()
      schema
    }
  }
}

object CdmSource {
  def apply(spark: SparkSession, rootPath: String, entityName: String): CdmSource =
    new CdmSource(spark, rootPath, entityName)
}
