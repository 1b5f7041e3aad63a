package graft.sinks

import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.{Constants, StreamPartition}
import graft.schema.SchemaOps

/** Writers reproducing the reference's blob-storage output layout so a
  * downstream merge job built for the reference consumes our output
  * unchanged (reference: src/Sinks/Parquet/ParquetSink.cs:199-323,
  * MultilineJsonSink.cs:169-254; layout documented in SURVEY.md §2.2):
  *
  * {{{
  * <target>/data/part-{uuid}-{shortHash}-chunk.parquet   (or .json)
  * <target>/data/_batch_date=yyyy-MM-dd/...              (optional)
  * <target>/schema/schema-{uuid}-{shortHash}.parquet     (empty, schema-only)
  * <target>/metadata/v0/partitions.json                  (deleted when empty)
  * <target>/{shortHash}.COMPLETED                        (graceful stop only)
  * }}}
  *
  * The SAME 7-char short hash names part files, the schema file, and
  * the COMPLETED token, so reference-built consumers can correlate the
  * three (reference: ParquetSink.cs:220-256 uses one short hash
  * throughout).
  *
  * Delivery is at-least-once append-only with fresh UUIDs per flush —
  * dedup is the consumer's job via ARCANE_MERGE_KEY. Unlike the
  * reference, nothing is buffered in driver memory: executors write
  * Spark part-files which are then renamed (a pure metadata operation
  * on any real filesystem/object-store committer) to the arcane names.
  */
object ArcaneLayout {

  private def fs(df: DataFrame, path: String): FileSystem =
    new Path(path).getFileSystem(df.sparkSession.sessionState.newHadoopConf())

  /** Every data file under `root`, at any depth, skipping files named
    * `_*` or `.*` (`.crc` checksums included): a recursive `listStatus`
    * walk. Not `listFiles(root, true)`: each `LocatedFileStatus` it
    * builds loads the file's permissions, which on a local file system
    * without native IO forks an `ls` per file. */
  private def listFilesRec(filesystem: FileSystem, root: Path): Seq[FileStatus] =
    filesystem.listStatus(root).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (s.isDirectory) listFilesRec(filesystem, s.getPath)
      else if (n.startsWith("_") || n.startsWith(".")) Nil
      else Seq(s)
    }

  /** Map each staged data file under `tmpRoot` to its arcane-named
    * destination relative to `data/`, preserving any partition
    * (col=value) subdirectories. */
  private def stagedMoves(filesystem: FileSystem, tmpRoot: Path,
      schemaHash: String, ext: String): Seq[(Path, String)] = {
    val tmpUri = filesystem.makeQualified(tmpRoot).toUri
    listFilesRec(filesystem, tmpRoot)
      .map { s =>
        val rel = tmpUri.relativize(filesystem.makeQualified(s.getPath).toUri).getPath
        val sub = rel.lastIndexOf('/') match {
          case -1 => ""
          case i  => rel.substring(0, i + 1)
        }
        s.getPath -> s"${sub}part-${UUID.randomUUID()}-$schemaHash-chunk.$ext"
      }
  }

  /** Commit staged files into `dataDir` on a bounded thread pool: a
    * metadata no-op per file on HDFS-likes, but a copy on object
    * stores — parallelism bounds the commit latency at O(files / 16)
    * round-trips instead of O(files). ExecutionExceptions are
    * unwrapped so callers, and the stream host's failure report, see
    * the underlying IOException, not the pool's wrapper. */
  private def parallelRename(filesystem: FileSystem, dataDir: String,
      toMove: Seq[(Path, String)]): Seq[String] = {
    toMove.map(_._2).map(n => new Path(s"$dataDir/$n").getParent).distinct
      .foreach(filesystem.mkdirs(_): Unit)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, toMove.size)))
    try {
      val futures = toMove.map { case (src, name) =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = {
            if (!filesystem.rename(src, new Path(s"$dataDir/$name")))
              throw new java.io.IOException(s"rename failed: $src -> $name")
            name
          }
        })
      }
      futures.map(f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // drain in-flight siblings BEFORE rethrowing: the caller's
            // finally deletes the staging dir (and a patch caller may
            // retry the whole pass) — a straggler rename completing
            // after the failure was observed could land a stale file
            // next to the retry's output
            pool.shutdownNow()
            pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
            // unwrap so callers and StreamRunner see the IOException,
            // not the pool's wrapper
            throw Option(e.getCause).getOrElse(e)
        })
    } finally pool.shutdown()
  }

  /** Write one batch of rows as `data/part-{uuid}-{hash}-chunk.{ext}`
    * files. `maxRecordsPerFile` plays the reference's `rowGroupsPerFile`
    * role (bounds file size without collecting to the driver).
    * `partitionColumns` lays the data out hive-style (`col=value/`
    * subdirectories — e.g. PQ codes `partitionBy("cell")` so an IVF
    * probe's scan prunes to the probed cells at the FILE level); the
    * reference's `_batch_date` layout is the same mechanism with the
    * injected date column. Returns the written file names (relative to
    * `data/`, including any partition subdirectories). */
  def writeDataBatch(
      df: DataFrame,
      targetPath: String,
      format: String = "parquet",
      batchDatePartition: Boolean = false,
      maxRecordsPerFile: Long = 0L,
      partitionColumns: Seq[String] = Nil): Seq[String] = {
    val schemaHash = SchemaOps.shortFingerprint(df.schema)
    val dataDir = s"$targetPath/data"
    val tmpDir = s"$targetPath/.staging-${UUID.randomUUID()}"
    val ext = if (format == "json") "json" else "parquet"

    val out = if (batchDatePartition)
      df.withColumn("_batch_date", date_format(current_date(), "yyyy-MM-dd"))
    else df
    val partCols =
      (if (batchDatePartition) Seq("_batch_date") else Nil) ++ partitionColumns
    val writer = out.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .format(format).save(tmpDir)

    // rename staged spark part-files to the arcane naming scheme,
    // preserving any partition (col=value) subdirectories
    val filesystem = fs(df, targetPath)
    try parallelRename(filesystem, dataDir,
      stagedMoves(filesystem, new Path(tmpDir), schemaHash, ext))
    finally {
      // staging must never outlive the batch: on a failed rename the
      // half-moved parts in data/ are deduped by consumers (the token is
      // suppressed), but an orphaned .staging dir would accumulate
      try filesystem.delete(new Path(tmpDir), true)
      catch { case scala.util.control.NonFatal(_) => }
    }
  }

  /** RETRACTION PRIMITIVE: rewrite the named hive partitions of an
    * ArcaneLayout table with `replacement` rows, clearing their old
    * files — the patch pass every takedown needs (VERDICT r11 #1).
    * `clearPartitions` are the partition subdirs relative to `data/`
    * (e.g. `Seq("bkt=3", "bkt=7")`); they must cover every partition
    * `replacement` writes to AND every partition whose rows were all
    * deleted (a partition absent from `replacement` is left EMPTY, so
    * the caller — not this method — decides the delete scope).
    * Untouched partitions are never read or written.
    *
    * Staged files are fully written (with the arcane part naming, so
    * later [[compact]] passes still see them) BEFORE any old file is
    * removed; the swap itself is the same non-transactional
    * delete-then-move window as dynamic partition overwrite — a crash
    * between the two can lose the cleared partitions' kept rows until
    * the patch is re-run. Deployments needing stronger guarantees put
    * the table on a transactional format; the single-writer contract
    * for maintenance ops applies (see [[graft.ext.StoreMeta]]).
    *
    * `fence`: the caller's writer-lease token — verified via
    * [[graft.ext.StoreMeta.verifyLease]] immediately before the
    * point of no return (old files cleared, staged files renamed in),
    * so a holder whose lease was TTL-broken mid-pass REFUSES the swap
    * instead of interleaving with the new holder's rewrite (VERDICT
    * r12 #4). Staging happens before the check; a refused swap leaves
    * the target untouched. */
  def replacePartitions(replacement: DataFrame, targetPath: String,
      partitionColumns: Seq[String], clearPartitions: Seq[String],
      format: String = "parquet",
      fence: Option[graft.ext.StoreMeta.Lease] = None): Seq[String] = {
    require(partitionColumns.nonEmpty, "replacePartitions needs partition columns")
    val schemaHash = SchemaOps.shortFingerprint(replacement.schema)
    val dataDir = s"$targetPath/data"
    val tmpDir = s"$targetPath/.patch-${UUID.randomUUID()}"
    val ext = if (format == "json") "json" else "parquet"
    replacement.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionColumns: _*).format(format).save(tmpDir)
    val filesystem = fs(replacement, targetPath)
    val tmpRoot = new Path(tmpDir)
    try {
      val toMove = stagedMoves(filesystem, tmpRoot, schemaHash, ext)
      // staged rows may only land inside the declared clear scope —
      // otherwise an untouched partition would silently gain duplicates
      val scope = clearPartitions.map(_.stripSuffix("/") + "/")
      toMove.map(_._2).foreach { n =>
        require(scope.exists(n.startsWith),
          s"replacement row landed outside the declared partitions: $n")
      }
      // fencing check LAST before the point of no return: a lease
      // broken while we staged means another writer owns these
      // partitions now — abort with the staged dir cleaned by finally
      fence.foreach(graft.ext.StoreMeta.verifyLease(replacement.sparkSession, _))
      // point of no return: clear old files, then move staged ones in
      scope.foreach { sub =>
        val dir = new Path(s"$dataDir/$sub")
        if (filesystem.exists(dir)) filesystem.delete(dir, true): Unit
      }
      parallelRename(filesystem, dataDir, toMove)
    } finally {
      try filesystem.delete(tmpRoot, true)
      catch { case scala.util.control.NonFatal(_) => }
    }
  }

  /** Compact small part-files in `data/` into ~`targetRecordsPerFile`
    * files — the maintenance job every append-only layout needs: a
    * 15-second poll interval lands 5760 files/day per stream, and scan
    * cost at the consumer degrades with file count long before data
    * size matters. Per schema-hash group (≥ `minFiles` members):
    * read → repartition(ceil(rows/target)) → stage → rename in with
    * fresh UUIDs and the SAME hash → delete exactly the files that were
    * read. A concurrently-appending stream is safe: files landing after
    * the snapshot listing are untouched, and the crash window (new
    * files in, old not yet deleted) only produces duplicates, which
    * consumers already dedup by ARCANE_MERGE_KEY (at-least-once
    * contract). Returns the new file names. */
  def compact(spark: org.apache.spark.sql.SparkSession, targetPath: String,
      format: String = "parquet", targetRecordsPerFile: Long = 1000000L,
      minFiles: Int = 2): Seq[String] = {
    val ext = if (format == "json") "json" else "parquet"
    val filesystem = new Path(targetPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dataDir = s"$targetPath/data"
    val NamePattern = s"part-[0-9a-f-]+-([0-9a-f]{7})-chunk\\.$ext".r
    // recursive listing so hive-partitioned layouts (col=value/
    // subdirectories, e.g. SignatureStore's bkt= buckets or PQ cell=
    // codes) compact too; each (partition subdir, schema hash) group is
    // rewritten WITHIN its subdir, so partition pruning is unaffected
    val dataPath = new Path(dataDir)
    val snapshot =
      if (!filesystem.exists(dataPath)) Seq.empty else listFilesRec(filesystem, dataPath)
    val dataUri = filesystem.makeQualified(dataPath).toUri
    val groups = snapshot.flatMap { s =>
      NamePattern.findFirstMatchIn(s.getPath.getName).map { m =>
        val rel = dataUri.relativize(filesystem.makeQualified(s.getPath).toUri).getPath
        val sub = rel.lastIndexOf('/') match {
          case -1 => ""
          case i  => rel.substring(0, i + 1)
        }
        (sub, m.group(1)) -> s.getPath
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    groups.filter(_._2.size >= minFiles).toSeq.flatMap { case ((sub, hash), files) =>
      val df = spark.read.format(format).load(files.map(_.toString): _*)
      val rows = df.count()
      val nParts = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
      val tmpDir = s"$targetPath/.compact-${UUID.randomUUID()}"
      df.repartition(nParts).write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", targetRecordsPerFile)
        .format(format).save(tmpDir)
      try {
        val newNames = filesystem.globStatus(new Path(s"$tmpDir/*")).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .map { s =>
            val name = s"${sub}part-${UUID.randomUUID()}-$hash-chunk.$ext"
            if (!filesystem.rename(s.getPath, new Path(s"$dataDir/$name")))
              throw new java.io.IOException(s"compact rename failed: ${s.getPath}")
            name
          }
        // all new files are in; retire exactly the snapshot
        files.foreach(filesystem.delete(_, false))
        newNames
      } finally {
        try filesystem.delete(new Path(tmpDir), true)
        catch { case scala.util.control.NonFatal(_) => }
      }
    }
  }

  /** Publish the schema as an empty Parquet file under `schema/`, with
    * the merge-key column name recorded in the file's key-value
    * metadata (reference: ParquetOperations.cs:126-149 writes an empty
    * file whose bytes double as the fingerprint; we fingerprint the
    * canonical StructType JSON instead — consumers compare hashes only
    * for equality, see SURVEY.md §7.4). Returns the 7-char short hash —
    * the same one used in part filenames and the COMPLETED token. */
  def writeSchemaFile(df: DataFrame, targetPath: String): String = {
    // mark the merge-key field in its metadata; Spark persists field
    // metadata in the parquet footer (org.apache.spark.sql.parquet.row
    // .metadata), which is where consumers recover the merge-key name
    val schema = StructType(df.schema.fields.map { f =>
      if (f.name == Constants.MergeKeyColumn)
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putBoolean("isMergeKey", true).build())
      else f
    })
    val hash = SchemaOps.shortFingerprint(df.schema)
    val tmpDir = s"$targetPath/.schema-staging-${UUID.randomUUID()}"
    df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .write.mode(SaveMode.Overwrite)
      .parquet(tmpDir)
    val filesystem = fs(df, targetPath)
    val part = filesystem.globStatus(new Path(s"$tmpDir/part-*"))
      .headOption.getOrElse(
        throw new IllegalStateException("empty schema write produced no file"))
    val dest = new Path(s"$targetPath/schema/schema-${UUID.randomUUID()}-$hash.parquet")
    filesystem.mkdirs(dest.getParent)
    filesystem.rename(part.getPath, dest)
    filesystem.delete(new Path(tmpDir), true)
    hash
  }

  /** Write (or, when `partitions` is empty, delete) the partition
    * advertisement (reference: PartitionsWriter.cs:37-47 — deletes the
    * file when no partitions are configured). */
  def writePartitionsMetadata(
      df: DataFrame,
      targetPath: String,
      partitions: Seq[StreamPartition]): Unit = {
    val filesystem = fs(df, targetPath)
    val path = new Path(s"$targetPath/metadata/v0/partitions.json")
    if (partitions.isEmpty) {
      filesystem.delete(path, false)
    } else {
      filesystem.mkdirs(path.getParent)
      val out = filesystem.create(path, true)
      out.write(partitions.map(_.toJson).mkString("[", ",", "]").getBytes("UTF-8"))
      out.close()
    }
  }

  /** Drop the `{hash}.COMPLETED` token. Only the runner calls this, and
    * only on graceful completion — never after failure or kill-switch
    * interruption (reference: ParquetSink.cs:244-261, invariant tested
    * at ParquetSinkTests.cs:174-310). */
  def writeCompletionToken(df: DataFrame, targetPath: String, schemaHash: String): Unit = {
    val filesystem = fs(df, targetPath)
    val out = filesystem.create(
      new Path(s"$targetPath/${Constants.completedTokenFile(schemaHash)}"), true)
    out.close()
  }

  def completionTokenExists(df: DataFrame, targetPath: String, schemaHash: String): Boolean =
    fs(df, targetPath).exists(
      new Path(s"$targetPath/${Constants.completedTokenFile(schemaHash)}"))
}
