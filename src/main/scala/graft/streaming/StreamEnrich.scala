package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Envelope

/** Stream-static enrichment: the live change stream joined against a
  * static dimension at ingest time — the streaming face of the warehouse
  * "enrich on load" step (the reference defers all joins to its
  * warehouses; Spark does it in-flight).
  *
  * Structured Streaming executes an inner stream-static join STATELESSLY:
  * each micro-batch joins its rows against the static side, no streaming
  * state, no watermark needed. With `broadcastDim` (the default) the
  * dimension ships to executors once per batch as a broadcast hash table
  * — the right plan whenever the dim fits in memory; for a 100 TB-scale
  * dimension pass `broadcastDim = false` and let AQE pick a shuffle join
  * per batch.
  *
  * Width note: rows parse at the SEED schema's width. Enrichment is a
  * read-side tap, not the merge path — DDL-driven width changes are the
  * [[IncrementalPipeline]]'s job, which parses per table version inside
  * `foreachBatch`.
  */
object StreamEnrich {

  /** The change stream for `cfg`'s table, envelope-projected and typed,
    * joined `stream.streamKey = dim.dimKey`. Returns a STREAMING frame —
    * compose further (window aggs, filters) and hand it to a streaming sink. */
  def enriched(
      spark: SparkSession,
      cfg: PipelineConfig,
      dim: DataFrame,
      streamKey: String,
      dimKey: String,
      broadcastDim: Boolean = true): DataFrame = {
    val lines = spark.readStream
      .format("text")
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger.toString)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "CDC*.csv")
      .load(s"${cfg.incrementRoot}/${cfg.schemaName}/${cfg.tableName}")
    val rows = Envelope.project(
      Envelope.parseLines(lines, cfg.seed.columns.size),
      cfg.seed.columns, cfg.binaryDialect)
    val changes = Envelope
      .tableFilter(rows, cfg.schemaName, cfg.tableName)
      .filter(col(Envelope.CommitTsCol) > cfg.startTso)
    val d = if (broadcastDim) broadcast(dim) else dim
    changes.join(d, changes(streamKey) === d(dimKey)).drop(dimKey)
  }
}
