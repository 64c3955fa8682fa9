package graft.perfbench

import graft.Tables
import graft.operators.{Maintain, Pipeline, Urls}
import graft.sources.Warc
import graft.streaming.EventsStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

final case class Chunk(chunk_id: Long, content: String)

/** `ingest`: the production day-N path. Set-up builds the day-1 master
  * bundle into the run's own directory (`Pipeline.masterFront` +
  * `persistMasterArtifacts`) and starts `EventsStream.masterIngestStream`
  * over a memory source. One op = one micro-batch, from hand-off until
  * its fates are committed. Batch 0 is q178's planted batch, whose fates
  * are checked against q178's oracle; batch k = 1..`measured` is the same
  * planting over the generated corpus `ingest/docs_k.parquet`, whose doc
  * ids — hence chunks, URLs and texts — are new to the bundle. Every
  * batch is measured, batch 0 too: the bundle build is the warm-up, and
  * a separate warm-up batch would not fit a run. Each batch appends to
  * the bundle; `Maintain.maintainMasterBundle` runs between consecutive
  * batches, outside the ops. The fates table is left in the run's
  * warehouse for `perfbench/run.py` to check. */
final class IngestWorkload(run: Run) {
  import run._

  private val bundle = s"${cfg.work}/bundle"
  private val fatesTable = "perfbench_fates"

  def execute(): Map[String, Any] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables(spark, cfg.input).documents.localCheckpoint()
    val bl = Urls.docBlocklist.toDF("pattern")
    val day1 = Warc.plantedMasterChunks(docs).filter(col("chunk_id") % 5 =!= 4)
    val front = Pipeline.masterFront(day1, "chunk_id", "content", bl,
      Pipeline.MasterIngestSeed, minWords = 15, maxWords = 120,
      maxDupFrac = 0.65, jaccardTau = 0.8, winnowMinPrints = 60L,
      _ => _.localCheckpoint())
    Pipeline.persistMasterArtifacts(Pipeline.masterArtifactsOf(front, jaccardTau = 0.8), bundle)

    val prep0 = Clock.nowMs()
    val batches = (0 to cfg.measured).map { k =>
      val d = if (k == 0) docs else spark.read.parquet(s"${cfg.input}/ingest/docs_$k.parquet")
      Warc.plantedMasterBatchChunks(d).as[Chunk].collect().sortBy(_.chunk_id).toSeq
    }
    inputPrepS = (Clock.nowMs() - prep0) / 1e3

    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "rec_id BIGINT, host STRING, fate STRING, dup_of BIGINT, " +
            "n_spans BIGINT, removed_chars BIGINT, n_tokens BIGINT, ids STRING"))
      .write.format("parquet").saveAsTable(fatesTable)
    val buckets = Pipeline.readBundleBuckets(spark, bundle)
    val mem = MemoryStream[Chunk]
    val q = EventsStream.masterIngestStream(mem.toDF(), bundle, fatesTable,
      s"${cfg.work}/checkpoint", Urls.docBlocklist, splitSeed = Pipeline.MasterIngestSeed)
    val ticks = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    try {
      def op(k: Int): Unit = {
        val id = ops.length
        var error: String = null
        val t0 = Clock.nowMs()
        try span("op", -1, id) { _ =>
          mem.addData(batches(k))
          q.processAllAvailable()
        } catch { case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        val wall = Clock.nowMs() - t0
        rec.foreach(_.collectSql())
        val p = q.lastProgress
        val durations = Option(p).map(_.durationMs).map { m =>
          import scala.jdk.CollectionConverters._
          m.asScala.map { case (n, v) => n -> v.longValue() }.toMap
        }.getOrElse(Map.empty)
        ops += Map("id" -> id, "name" -> s"batch_$k", "pass" -> k, "measured" -> true,
          "oracle" -> (if (k == 0) "q178_master_ingest" else null),
          "batch" -> Option(p).map(_.batchId).getOrElse(-1L),
          "start_ms" -> t0, "wall_s" -> wall / 1e3,
          "records" -> batches(k).map(_.content.split("WARC-Type: conversion", -1).length - 1).sum,
          "chunks" -> batches(k).map(_.chunk_id), "durations_ms" -> durations,
          "error" -> error)
      }
      measuring()
      for (k <- 0 to cfg.measured) {
        if (k > 0) {
          val s = Clock.nowMs()
          val healed = Maintain.maintainMasterBundle(spark, bundle)
          ticks += Map("before_batch" -> k, "tick_s" -> (Clock.nowMs() - s) / 1e3,
            "healed" -> healed.size)
        }
        op(k)
      }
      sampleHeap()
    } finally q.stop()
    Map("oracle_sql" -> Map("q178_master_ingest" ->
        graft.SparkEntry.oracleSql("q178_master_ingest")),
      "ticks" -> ticks.toSeq, "bucket_files" -> bucketFiles(), "buckets" -> buckets)
  }

  /** Data files per bundle member directory, at the end of the run. */
  private def bucketFiles(): Map[String, Int] = {
    val root = new java.io.File(bundle)
    Option(root.listFiles()).getOrElse(Array.empty).filter(_.isDirectory).map { d =>
      d.getName -> Option(d.listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    }.toMap
  }
}
