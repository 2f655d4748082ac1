package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.VectorQueries

/** Streaming semantic (embedding-level) dedup against a landed corpus —
  * the ingest-time face of `dedup_semantic`, the same batch/stream split
  * as `StreamNearDup` for shingle near-dups: new vectors are checked
  * against the PERSISTED cluster index as they arrive, so a paraphrased
  * re-submission is flagged before it lands.
  *
  * Spark-first shape: the index is two static frames (the model-sized
  * centroid table and the corpus members keyed by centroid), so each
  * micro-batch runs [[matchBatch]] through [[MicroBatch.start]] — broadcast
  * centroid assignment (the shared IVF `max_by` hash-agg), one
  * stream-static join against ONLY the matching cluster's members, one
  * bounded best-match agg per new vector. Streaming STATE is zero:
  * nothing is keyed across batches, so the query runs forever at any
  * rate, and cost per batch is |batch| × E|cluster| comparisons — never
  * batch × corpus.
  */
object StreamSemanticDedup {

  /** The persisted serving index: `cents` = (cent_id, cemb) model-sized
    * quantizer, `members` = (cent_id, vec_id, embedding) corpus
    * assignment — what the nightly `dedup_semantic` build lands. */
  final case class SemanticIndex(cents: DataFrame, members: DataFrame)

  /** Build the index from a landed corpus `(vec_id, embedding)` with one
    * strided quantizer — the same centroid policy as `dedup_semantic`. */
  def buildIndex(vecs: DataFrame, stride: Int = 25): SemanticIndex = {
    val cents = vecs.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"))
    SemanticIndex(cents, VectorQueries.assignNearest(vecs, cents))
  }

  /** Match one batch of new `(vec_id, embedding)` vectors against the
    * index: emits `(vec_id, dup_of, sim, n_matches)` — the best landed
    * match at `sim >= threshold` (ties by lowest member id) plus how
    * many members matched. Batch callers and the stream share this
    * exact chain, so stream ≡ batch by construction. Registers the
    * `cosine_sim` expression on the batch's session. */
  def matchBatch(batch: DataFrame, idx: SemanticIndex, threshold: Double): DataFrame = {
    graft.functions.VectorFunctions.register(batch.sparkSession)
    graft.queries.DedupQueries.semanticMatch(batch, idx.cents, idx.members, threshold)
  }
}
