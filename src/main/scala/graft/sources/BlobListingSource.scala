package graft.sources

import org.apache.hadoop.fs.{Path, RemoteIterator}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Blob/file-listing source (reference:
  * src/Sources/BlobStorage/BlobStorageSource.cs:19-139; SURVEY.md §2.1
  * S5): the object names under a prefix. The reference re-emits bare
  * names forever on an interval; we expose one listing as a DataFrame
  * of (name, size, modificationTime) so downstream filters
  * (prefix/suffix/modifiedAfter) stay declarative. A continuous feed of
  * new objects is Spark's own file-stream source, whose checkpointed
  * file log replaces the re-list loop.
  *
  * Scale note: the listing itself is driver-side (as in the reference —
  * it's a metadata operation), but is immediately parallelized as a
  * DataFrame. For 100M+ object stores, swap in a manifest/inventory
  * table scan instead of a live listing.
  */
object BlobListingSource {

  final case class BlobInfo(name: String, size: Long, modificationTime: Long)

  def list(spark: SparkSession, prefix: String, recursive: Boolean = true): DataFrame = {
    import spark.implicits._
    val path = new Path(prefix)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val blobs = Vector.newBuilder[BlobInfo]
    if (fs.exists(path)) {
      val it: RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] =
        fs.listFiles(path, recursive)
      while (it.hasNext) {
        val s = it.next()
        blobs += BlobInfo(s.getPath.toString, s.getLen, s.getModificationTime)
      }
    }
    blobs.result().toDF()
  }
}
