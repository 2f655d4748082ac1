package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.multimodal.FrameNeardupIndex
import graft.queries.MediaQueries

/** The continuous-ingest curation pipeline for MEDIA — the multimodal
  * twin of [[StreamCurate]]: captioned payloads are gated by cross-modal
  * alignment (the `mm_clip_filter` CLIP-score recipe), checked against
  * the landed corpus for sampled-frame near-duplicates, and landed
  * exactly-once into the sharded training layout AS THEY ARRIVE.
  *
  * Composition, not reimplementation — every stage is the SAME code its
  * batch twin runs:
  *  - alignment gate: [[MediaQueries.textEmbedExpr]] ×
  *    [[MediaQueries.embedExpr]] scored by ONE `cosine_sim` per row —
  *    the identical two-tower fakes the oracle-gated `mm_clip_filter`
  *    scores with (a real pair of ONNX towers slots in behind the
  *    batched `MediaEmbedder` boundary unchanged);
  *  - near-dup drop: [[FrameNeardupIndex.matchBatch]] against the
  *    persisted corpus index — a payload whose sampled frames
  *    near-duplicate landed media must not re-land;
  *  - landing: [[StreamShardedExport.commitBatch]] — per-epoch
  *    idempotent commit, so a redelivered batch never double-lands.
  *
  * Streaming STATE is zero: the gate is per-row, the index probe is
  * stream-static (batch fingerprints broadcast, the corpus side never
  * re-shuffles), so the query runs forever at any rate.
  */
object StreamMediaCurate {

  /** One micro-batch of (`doc_id`, `text` caption, `content` payload)
    * through the full media chain — shared by the streaming query and
    * directly callable for stream≡batch assertions. Emits
    * (doc_id, content, clip_score) for the survivors. */
  def curateBatch(batch: DataFrame,
      clipThreshold: Double = MediaQueries.ClipThreshold,
      neardup: Option[FrameNeardupIndex] = None): DataFrame = {
    graft.functions.VectorFunctions.register(batch.sparkSession)
    // gate on the raw cosine (exactly mm_clip_filter's keep predicate);
    // round only the emitted score
    val gated = batch
      .withColumn("s", call_function("cosine_sim",
        MediaQueries.textEmbedExpr(col("text")),
        MediaQueries.embedExpr(col("content"))))
      .filter(col("s") >= clipThreshold)
    val deduped = neardup.fold(gated) { idx =>
      gated.join(
        FrameNeardupIndex.matchBatch(idx, gated.select(col("doc_id"), col("content")))
          .select(col("new_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    }
    deduped.select(col("doc_id"), col("content"),
      round(col("s"), 6).as("clip_score"))
  }

  /** Start curating `docs` (a STREAMING `(doc_id, text, content)`
    * frame) into `outDir`'s exactly-once sharded layout. */
  def start(docs: DataFrame, outDir: String, numShards: Int, checkpoint: String,
      clipThreshold: Double = MediaQueries.ClipThreshold,
      neardup: Option[FrameNeardupIndex] = None): StreamingQuery =
    MicroBatch.start(docs, checkpoint) { (batch, id) =>
      StreamShardedExport.commitBatch(
        curateBatch(batch, clipThreshold, neardup), "doc_id", outDir, numShards, id)
    }
}
