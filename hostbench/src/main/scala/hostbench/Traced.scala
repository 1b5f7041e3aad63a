package hostbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ext.{ComponentStore, VectorIndex}
import graft.model.{StreamContext, StreamSpec}
import graft.runtime.StreamGraphBuilder
import graft.sinks.{ArcaneParquetSink, SinkConfig}
import graft.sources.CdmSource
import graft.streaming.StreamingDecision

/** The traced run: the same `GraftMain.run` lifecycle, through
  * benchmark-owned kinds registered on its `extraKinds` seam. Each kind
  * composes the same public calls as the built-in kind and wraps them in
  * spans; nothing inside the program is instrumented. */
object Traced {

  private def req(spec: StreamSpec, k: String): String =
    spec.string(k).getOrElse(throw new IllegalArgumentException(s"spec field '$k' is required"))

  /** Built-in `cdm`: CdmSource.stream into ArcaneParquetSink. */
  final class CdmKind(t: Tracer) extends StreamGraphBuilder {
    @volatile private var active: Option[(ArcaneParquetSink, DataFrame)] = None
    override def build(ctx: StreamContext, spark: SparkSession): DataFrame = {
      val spec = StreamSpec.fromContext(ctx)
      t.span("sources.stream") {
        new CdmSource(spark, req(spec, "rootPath"), req(spec, "entityName"))
          .stream(spec.long("maxFilesPerTrigger").map(_.toInt).getOrElse(1000))
      }
    }
    override def start(ctx: StreamContext, df: DataFrame, trigger: Trigger): StreamingQuery = {
      val spec = StreamSpec.fromContext(ctx)
      val sink = new ArcaneParquetSink(SinkConfig(req(spec, "sinkPath")))
      active = Some((sink, df))
      df.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          t.span("sinks.write_batch")(sink.writeBatch(batch)): Unit
        }
        .option("checkpointLocation", req(spec, "checkpointPath"))
        .trigger(trigger).start()
    }
    override def onCompleted(ctx: StreamContext): Unit =
      active.foreach { case (sink, df) => t.span("sinks.complete")(sink.complete(df)) }
  }

  /** Built-in `dedup-decision` with a cluster path and the semantic tier:
    * StreamingDecision.processBatch (cluster state off), then
    * ComponentStore.merge + maybeCompact over the batch's drop edges —
    * exactly what processBatch does itself when given the cluster path. */
  final class DecisionKind(t: Tracer) extends StreamGraphBuilder {
    override def build(ctx: StreamContext, spark: SparkSession): DataFrame = {
      val spec = StreamSpec.fromContext(ctx)
      spark.readStream
        .schema(StructType.fromDDL(req(spec, "schemaDdl")))
        .option("maxFilesPerTrigger", spec.long("maxFilesPerTrigger").getOrElse(1000L).toString)
        .parquet(req(spec, "sourcePath"))
    }
    override def start(ctx: StreamContext, df: DataFrame, trigger: Trigger): StreamingQuery = {
      val spec = StreamSpec.fromContext(ctx)
      val spark = df.sparkSession
      val emb = req(spec, "embeddingColumn")
      val store = req(spec, "storePath")
      val cp = req(spec, "clusterPath")
      val ckpt = req(spec, "checkpointPath")
      val cents = t.span("streaming.load_quantizer") {
        VectorIndex.coarse(spark, req(spec, "quantizerIndexPath"), emb)
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      }
      // the batch-key namespace StreamingDecision.run derives from the checkpoint
      val ns = f"cp${scala.util.hashing.MurmurHash3.stringHash(new Path(ckpt).toUri.toString) & 0xffffffffL}%08x"
      df.writeStream
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          val key = s"$ns-$epoch"
          t.span("streaming.process_batch") {
            StreamingDecision.processBatch(batch, "doc_id", "text", Some(emb), store, cents, key)
          }
          t.span("ext.cluster_merge") {
            val pairs = spark.read.parquet(s"$store/decisions/batch=$key")
              .filter(col("decision") =!= "keep" && col("doc_id") =!= col("keeper_id"))
              .select(col("doc_id"), col("keeper_id"))
            ComponentStore.merge(pairs, "doc_id", "keeper_id", cp, key)
            ComponentStore.maybeCompact(spark, cp, 64)
          }: Unit
        }
        .trigger(trigger)
        .option("checkpointLocation", ckpt)
        .start()
    }
  }

  private def countFiles(spark: SparkSession, root: String): Long = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else {
      var n = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) { if (!it.next().getPath.getName.startsWith(".")) n += 1 }
      n
    }
  }

  private def rows(spark: SparkSession, path: String): Long =
    if (new java.io.File(path).exists()) spark.read.parquet(path).count() else 0L

  def run(spark: SparkSession, job: Main.Job): Map[String, Any] = {
    val tracer = new Tracer(s"${job.workload}-${System.nanoTime()}", spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer)
    val out = s"${job.work}/traced"
    val phaseEnds = mutable.ArrayBuffer.empty[(String, Long)]
    val extra = mutable.Map.empty[String, Any]
    val rec = job.kind match {
      case "cdm" =>
        val r = tracer.root("runtime.run") {
          Main.runOnce(spark, job, "timed", out, Map("bench-cdm" -> new CdmKind(tracer)), Some("bench-cdm"))
        }
        // parse + merge-key cost alone: the same files, no stream, no sink
        val spec = StreamSpec.parse(job.config("timed", out)(StreamContext.SpecVar))
        tracer.span("sources.cdm.scan") {
          new CdmSource(spark, req(spec, "rootPath"), req(spec, "entityName"))
            .changes().write.format("noop").mode("overwrite").save()
        }
        r
      case "dedup-decision" =>
        val r = tracer.root("runtime.run") {
          Main.runOnce(spark, job, "timed", out,
            Map("bench-decision" -> new DecisionKind(tracer)), Some("bench-decision"))
        }
        Main.export(spark, job, out)
        extra("store_rows") = Map(
          "hashes" -> rows(spark, s"$out/store/hashes/data"),
          "bands" -> rows(spark, s"$out/store/bands/data"),
          "cells" -> rows(spark, s"$out/store/cells/data"),
          "parents" -> rows(spark, s"$out/clusters/parents"))
        extra("store_files") = countFiles(spark, s"$out/store") + countFiles(spark, s"$out/clusters")
        r
      case _ =>
        tracer.root("ext.build") {
          Main.runOnce(spark, job, "timed", out, status = s =>
            if (s.startsWith("phase ")) phaseEnds += ((s.drop(6).takeWhile(_ != ':'), System.nanoTime())))
        }
    }
    tracer.drain()
    spark.sparkContext.removeSparkListener(tracer)
    // batch-build phases become child spans of the build span: each phase
    // ends when the job reports it and lasts its reported milliseconds
    val buildSpan = tracer.spans.find(_.name == "ext.build")
    val phaseSpans = (for {
      b <- buildSpan.toSeq
      ph <- rec("phases").asInstanceOf[Seq[Map[String, Any]]]
      (name, end) <- phaseEnds.find(_._1 == ph("name"))
    } yield (b.id, name, end - ph("ms").asInstanceOf[Long] * 1000000L, end))
      .zipWithIndex.map { case ((parent, name, start, end), i) =>
        Span(-(i + 1L), tracer.run, s"ext.build.$name", parent, start, end)
      }
    val spans = tracer.spans ++ phaseSpans
    val counters = tracer.countersBySpan()
    rec.toMap ++ extra ++ Map(
      "run_id" -> tracer.run,
      "spans" -> spans.map(s => Map("id" -> s.id, "run" -> s.run, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "counters" -> counters.map { case (k, v) => k.toString -> v.toMap })
  }
}
