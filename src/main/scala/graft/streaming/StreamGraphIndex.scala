package graft.streaming

import graft.tools.Failpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TopKAgg
import graft.queries.VectorQueries
import graft.snapshot.{ShardedExport, TargetTable}

/** Continuous maintenance of the bounded-degree neighbor graph the
  * beam-search ANN walks (`vec_graph_topk` — queries/VectorQueries
  * .scala `graphAdjacency`): vectors arriving on a stream join the
  * index WITHOUT a rebuild, and existing nodes' edge lists improve as
  * better neighbors arrive — the HNSW insert, re-expressed as two
  * keyed Spark lands per micro-batch.
  *
  * State on disk, both exactly-once:
  *   - MEMBERSHIP `(vec_id, embedding, cent_id)` — each vector's
  *     `GraphMemb` nearest coarse cells under the FROZEN centroid model
  *     (same contract as [[StreamVectorIndex]]: retraining is a
  *     rebuild, not maintenance). Append-only through
  *     [[StreamShardedExport]]'s marker algebra, sharded by the dense
  *     cell index, so an epoch reads ONLY its touched cells'
  *     directories.
  *   - ADJACENCY one row per node `(src, nn: array<(sim, id)>)` —
  *     a keyed [[TargetTable]] bucketed by `src`: per epoch only
  *     buckets holding touched nodes rewrite, the rest carry over by
  *     hard link, and the version-id marker makes redelivery a no-op.
  *
  * Per micro-batch:
  *   1. membership of the batch (broadcast C-row centroids + bounded
  *      TopKAgg) lands FIRST — so a replayed epoch reads back exactly
  *      the membership it already wrote and recomputes identically;
  *   2. candidate edges are generated CELL-KEYED (the batch's cells'
  *      members × the batch — never all-pairs): new nodes score every
  *      co-member, existing co-members score the new arrivals;
  *   3. each touched node's final list is one bounded TopKAgg over
  *      (current list ∪ new candidates) — top-k merge is associative
  *      under the (sim desc, id asc) total order, which is WHY
  *      incremental maintenance lands on exactly the batch-built graph:
  *      an edge dropped from a top-k can never re-enter it.
  *
  * Scale: batch cost ∝ batch × E|cell| scoring + touched-bucket
  * rewrite; nothing is ever keyed across the full corpus, and the
  * adjacency stays N × degree rows at any N. Stream ≡ batch
  * row-for-row is pinned in `StreamGraphIndexSpec`.
  */
object StreamGraphIndex {

  private val MembDir = "memb"
  private val AdjDir = "adj"

  private def adjTable(spark: SparkSession, dir: String, numBuckets: Int) =
    new TargetTable(spark, s"$dir/$AdjDir", Seq("src"), numBuckets)

  /** Start continuously folding `vecs` (a STREAMING frame of
    * (vec_id, embedding)) into the neighbor graph at `dir`. */
  def start(vecs: DataFrame, cents: DataFrame, dir: String,
      numBuckets: Int, checkpoint: String): StreamingQuery = {
    val idx = StreamVectorIndex.listIndex(cents) // frozen model, resolved once
    MicroBatch.start(vecs, checkpoint) { (batch, id) =>
      applyBatch(batch, cents, idx, dir, numBuckets, id)
    }
  }

  /** The batch's cell memberships: `GraphMemb` best cells per vector,
    * embedding carried so edge scoring needs no second lookup. */
  private def membership(batch: DataFrame, cents: DataFrame): DataFrame = {
    val topMemb = udaf(new TopKAgg(VectorQueries.GraphMemb))
    batch.join(broadcast(cents))
      .select(col("vec_id"), col("embedding"),
        VectorQueries.cosine(col("embedding"), col("cemb")).as("csim"),
        col("cent_id"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        topMemb(col("csim"), col("cent_id")).as("m"))
      .select(col("vec_id"), col("embedding"), explode(col("m")).as("m"))
      .select(col("vec_id"), col("embedding"), col("m.id").as("cent_id"))
  }

  /** Apply one epoch idempotently; returns true if this call committed
    * new adjacency state. */
  def applyBatch(batch: DataFrame, cents: DataFrame, idx: Map[Long, Int],
      dir: String, numBuckets: Int, epochId: Long): Boolean = {
    if (batch.isEmpty) return false
    val spark = batch.sparkSession
    val t = adjTable(spark, dir, numBuckets)
    if (t.hasVersion(s"e$epochId")) return t.recommit(s"e$epochId")

    // 1. land membership FIRST (idempotent) — replay then reads back the
    // very rows it wrote, so candidate generation is replay-identical
    val memb = membership(batch, cents).localCheckpoint(true)
    val toShard = typedLit(idx)
    StreamShardedExport.commitWithShards(
      memb.withColumn(ShardedExport.ShardCol,
        element_at(toShard, col("cent_id")).cast("int")),
      s"$dir/$MembDir", idx.size, epochId)
    // crash point: membership landed, adjacency (and with it the
    // epoch's version marker) not yet — the replay re-lands membership
    // as a marker no-op, reads back the very rows this attempt wrote,
    // and must converge to the batch-built graph
    Failpoints.hit("graph.between-lands")

    // 2. cell-keyed candidates: ONLY the touched cells' membership
    // directories are read (partition-pruned multi-shard read)
    val touchedCells = memb.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)) // ≤ batch × GraphMemb cell ids — model-sized
    val members = StreamShardedExport.readShards(spark, s"$dir/$MembDir",
      touchedCells.map(idx).distinct.toSeq)
      .filter(col("cent_id").isin(touchedCells: _*)) // a shard holds exactly one cell, but be explicit
    val batchIds = memb.select(col("vec_id")).distinct()
    // pairs sharing ≥1 cell, both orientations, self excluded, deduped
    // (a pair can share both cells — the batch build's distinct())
    val newSide = memb.select(col("cent_id"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    val pairs = members
      .select(col("cent_id"), col("vec_id").as("m_id"), col("embedding").as("m_emb"))
      .join(newSide, Seq("cent_id"))
      .filter(col("m_id") =!= col("b_id"))
    val candNew = pairs // new node ← every co-member (incl. other new nodes)
      .select(col("b_id").as("src"), col("m_id").as("dst"),
        col("b_emb").as("se"), col("m_emb").as("de"))
    val candExisting = pairs // existing co-member ← the new arrival
      .join(batchIds.select(col("vec_id").as("m_id")), Seq("m_id"), "left_anti")
      .select(col("m_id").as("src"), col("b_id").as("dst"),
        col("m_emb").as("se"), col("b_emb").as("de"))
    val cands = candNew.unionByName(candExisting)
      .groupBy(col("src"), col("dst")) // dedup shared-both-cells pairs
      .agg(first(col("se")).as("se"), first(col("de")).as("de"))
      .select(col("src"),
        VectorQueries.cosine(col("se"), col("de")).as("sim"),
        col("dst").as("id"))

    // 3. merge into each touched node's bounded list
    val topDeg = udaf(new TopKAgg(VectorQueries.GraphDegree))
    if (!t.exists) {
      val rows = cands.groupBy(col("src")).agg(topDeg(col("sim"), col("id")).as("nn"))
      return t.writeVersion(rows, s"e$epochId")
    }
    val touchedSrc = cands.select(col("src")).distinct().localCheckpoint(true)
    val touched = t.touchedBuckets(touchedSrc)
    val bucketRows = t.readBuckets(touched).localCheckpoint(true)
    val currentEdges = bucketRows
      .join(touchedSrc, Seq("src"), "left_semi")
      .select(col("src"), explode(col("nn")).as("n"))
      .select(col("src"), col("n.sim").as("sim"), col("n.id").as("id"))
    val mergedRows = currentEdges.unionByName(cands)
      .groupBy(col("src")).agg(topDeg(col("sim"), col("id")).as("nn"))
    val carried = bucketRows.join(touchedSrc, Seq("src"), "left_anti")
    t.mergeVersion(mergedRows.unionByName(carried), touched, s"e$epochId")
  }

  /** The maintained graph as `(src, dst)` pairs — the SAME frame the
    * batch build emits, so `graphBeamSearch` walks it unchanged. */
  def readAdjacency(spark: SparkSession, dir: String, numBuckets: Int): DataFrame =
    adjTable(spark, dir, numBuckets).read()
      .select(col("src"), explode(col("nn")).as("n"))
      .select(col("src"), col("n.id").as("dst"))
}
