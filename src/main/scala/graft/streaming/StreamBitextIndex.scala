package graft.streaming

import graft.tools.Failpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TopKAgg, VectorFunctions}
import graft.queries.RetrievalQueries
import graft.snapshot.TargetTable

/** Continuous bitext-mining state — the streaming face of
  * `retrieval_bitext_mine`: documents of the GROWING language side (de)
  * arrive on a stream, and the margin's two ingredients are maintained
  * so mining serves from state instead of re-scanning the pair space:
  *
  *   - EN-SIDE top-k `(a_id, nn: array<(sim, b_id)>)` — each en doc's
  *     best candidates (and forward average) versus the de corpus SO
  *     FAR. Landed as a keyed [[TargetTable]] version per epoch; the
  *     merge is one bounded TopKAgg over (current list ∪ this batch's
  *     candidates) — associative under the (sim desc, id asc) total
  *     order, the `StreamGraphIndex` argument, which is why incremental
  *     arrival lands on exactly the state a batch build over the same
  *     corpus produces (a candidate dropped from a top-k can never
  *     re-enter it).
  *   - DE-SIDE backward averages `(b_id, avg_b)` — computed ONCE at
  *     arrival (the en side is the static language, so a doc's backward
  *     average never changes) and appended exactly-once through the
  *     sharded-export marker algebra.
  *
  * Per micro-batch: ONE broadcast of the batch into one scan of the
  * static en frame scores all candidates; both state lands are
  * idempotent per epoch (redelivery no-ops). Serving
  * ([[serve]]) recomputes margins from state alone — spec-pinned equal
  * to [[RetrievalQueries.mineCore]] over the same corpus.
  *
  * Scale: per-batch cost is batch × |en| cosines (the forward brute
  * leg's price; at 100 TB the en scan swaps for its IVF probe path) and
  * an en-sized state rewrite — honest costs, never pair-space-sized.
  */
object StreamBitextIndex {

  private val EnDir = "en_topk"
  private val DeDir = "de_avg"
  private val DeShards = 4

  private def enTable(spark: SparkSession, dir: String, numBuckets: Int) =
    new TargetTable(spark, s"$dir/$EnDir", Seq("a_id"), numBuckets)

  /** Fold one epoch of de docs (b_id, eb) into the mining state at
    * `dir`, against the static `en` frame (a_id, ea), idempotently — a
    * stream runs it per epoch through [[MicroBatch.start]]. Returns true
    * if this call committed new en-side state. */
  def applyBatch(deBatch: DataFrame, en: DataFrame, dir: String,
      numBuckets: Int, epochId: Long): Boolean = {
    if (deBatch.isEmpty) return false
    val spark = deBatch.sparkSession
    VectorFunctions.register(spark)
    val t = enTable(spark, dir, numBuckets)
    // the de-side land precedes the version marker, so an epoch whose
    // marker exists has BOTH states down — replay is a pure no-op
    if (t.hasVersion(s"e$epochId")) return t.recommit(s"e$epochId")

    // one en scan scores every (en, new-de) candidate; read twice
    // (backward averages + forward merge) — eager checkpoint
    val cands = en.join(broadcast(deBatch))
      .select(col("a_id"),
        call_function("cosine_sim", col("ea"), col("eb")).as("sim"),
        col("b_id"))
      .localCheckpoint(true)

    // 1. backward averages for the arrivals — append-only, idempotent
    val topk = udaf(new TopKAgg(RetrievalQueries.MineK))
    val avgB = cands
      .select(col("b_id"), col("sim"), col("a_id").as("id"))
      .groupBy(col("b_id")).agg(topk(col("sim"), col("id")).as("nn"))
      .select(col("b_id"), RetrievalQueries.topkAvg(col("nn")).as("avg_b"))
    StreamShardedExport.commitBatch(avgB, "b_id", s"$dir/$DeDir", DeShards, epochId)
    // crash point: de-side averages landed, en-side merge (and with it
    // the epoch's version marker) not yet — serve() must still answer
    // from the previous epoch (the new b_ids have no forward pairs to
    // join), and the replay must converge to the batch answer
    Failpoints.hit("bitext.between-lands")

    // 2. merge the batch's candidates into every en doc's bounded list
    val candsK = cands.select(col("a_id"), col("sim"), col("b_id").as("id"))
    if (!t.exists) {
      val rows = candsK.groupBy(col("a_id")).agg(topk(col("sim"), col("id")).as("nn"))
      return t.writeVersion(rows, s"e$epochId")
    }
    val current = t.read()
      .select(col("a_id"), explode(col("nn")).as("n"))
      .select(col("a_id"), col("n.sim").as("sim"), col("n.id").as("id"))
    val merged = current.unionByName(candsK)
      .groupBy(col("a_id")).agg(topk(col("sim"), col("id")).as("nn"))
    // every en row can gain a candidate from any arrival — the state
    // rewrite is en-sized by design (en is the static, bounded side)
    t.writeVersion(merged, s"e$epochId")
  }

  /** Mine from state alone: margins for every en doc with a full top-k
    * versus the de corpus landed so far — the SAME output frame
    * [[RetrievalQueries.mineCore]] computes from scratch.
    *
    * BOOTSTRAP PRECONDITION (shared with mineCore): the margin is only
    * defined once at least [[RetrievalQueries.MineK]] de docs have
    * landed — `topkAvg` is a fixed-operand-order k-term mean (the
    * cross-engine IEEE contract), so an under-full top-k has no
    * denominator. Below that, mineCore emits the forward pairs with
    * NULL margins (the fixed sum hits a missing rank) while this face
    * emits nothing — the `size(nn) >= MineK` filter below makes the
    * undefined region explicit instead of serving NULL margins.
    * stream ≡ batch holds for every corpus of ≥ MineK de docs; the
    * under-full divergence is pinned in `StreamBitextIndexSpec`. */
  def serve(spark: SparkSession, dir: String, numBuckets: Int): DataFrame = {
    val fwdPairs = enTable(spark, dir, numBuckets).read()
      .filter(size(col("nn")) >= RetrievalQueries.MineK)
      .select(col("a_id"), RetrievalQueries.topkAvg(col("nn")).as("avg_a"),
        posexplode(col("nn")).as(Seq("pos", "n")))
      .select(col("a_id"), col("avg_a"), (col("pos") + 1).cast("int").as("rank"),
        col("n.id").as("b_id"), col("n.sim").as("sim"))
    val avgB = StreamShardedExport.readAll(spark, s"$dir/$DeDir")
      .select(col("b_id"), col("avg_b"))
    RetrievalQueries.marginFrame(fwdPairs, avgB)
  }
}
