package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.TopKAgg
import graft.queries.RetrievalQueries
import graft.snapshot.ShardedExport

/** Continuous lexical (BM25) index maintenance: documents arriving on a
  * stream are tokenized and landed as term-sharded tf rows through
  * [[StreamShardedExport]]'s marker algebra — so a backfilled index and
  * a live-maintained one agree row-for-row, and serving scores with the
  * SAME chain as the batch persisted index
  * ([[RetrievalQueries.scoreLexIndex]]).
  *
  * Data model (one atomic commit per epoch, schema `(term, doc_id, tf,
  * dl)`):
  *   - tf rows: one per distinct (term, doc) of the batch, the doc
  *     length denormalized in — mergeable across epochs because a doc
  *     lives in exactly one epoch, so global df is a row count and the
  *     impact-ordered top-K is a bounded aggregate over landed rows.
  *   - ONE stats sentinel row per epoch under the empty term (a real
  *     token can never be empty — the tokenizer filters empties):
  *     `doc_id` = epoch, `tf` = batch doc count, `dl` = batch Σdl.
  *     Corpus stats are Σ over sentinels — exact, order-free, and one
  *     row per epoch rather than per doc.
  *
  * Scale shape: per-epoch cost is two hash aggs over the batch (tf,
  * stats) and one sharded write; nothing is keyed across batches.
  * Serving reads ONLY the query terms' shards (hash-partition pruning
  * via [[StreamShardedExport.readShard]]) plus the sentinel shard — a
  * fixed fraction of the index, independent of the query count — then
  * computes df + the impact-ordered truncation + the shared BM25 chain.
  * Serving is bit-equal to [[RetrievalQueries.retrievalLexicalTopk]]
  * because df/tf/dl/stats all reconstruct exactly and the truncation
  * uses the same (tf desc, doc asc) order.
  */
object StreamLexicalIndex {

  private[graft] val NumShards = 8
  private val StatsTerm = "" // unreachable as a real token (empties filtered)

  private def toksOf = filter(split(col("text"), " "), t => t =!= "")

  /** Idempotently tokenize + land one micro-batch of documents (a
    * stream runs it per epoch through [[MicroBatch.start]]); returns
    * false if `epochId` was already committed (redelivery no-op). */
  def commitBatch(batch: DataFrame, outDir: String, epochId: Long): Boolean = {
    val base = batch
      .select(col("doc_id"), toksOf.as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("dl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode_outer(col("t")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val sentinel = base
      .agg(count(lit(1)).as("n_docs"), coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .select(lit(StatsTerm).as("term"), lit(epochId).as("doc_id"),
        col("n_docs").as("tf"), col("sum_dl").as("dl"))
    // an empty epoch lands marker-only (tf already has the schema and
    // zero rows) — a zero-count sentinel would force a data dir for it
    val rows = if (batch.isEmpty) tf else tf.unionByName(sentinel)
    StreamShardedExport.commitBatch(rows, "term", outDir, NumShards, epochId)
  }

  /** Shard ids the given terms hash into — evaluated with THE shard
    * expression ([[ShardedExport.shardExpr]]), so pruning can never
    * disagree with the writer's placement. Bounded: ≤ |terms| ids. */
  private def shardsOf(spark: SparkSession, terms: Seq[String]): Seq[Int] = {
    import spark.implicits._
    terms.toDF("term")
      .select(ShardedExport.shardExpr("term", NumShards).as("s"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
  }

  /** BM25 top-k served FROM the continuously-maintained index: reads
    * only the query terms' shards (+ the sentinel's), reconstructs
    * df / impact-ordered postings / corpus stats exactly, and scores
    * with the shared chain. */
  def serve(spark: SparkSession, outDir: String,
      terms: Seq[String] = RetrievalQueries.LexTerms): DataFrame = {
    val needed = shardsOf(spark, terms :+ StatsTerm)
    val landed = needed.map(s => StreamShardedExport.readShard(spark, outDir, s))
      .reduce(_ unionByName _)
    val stats = landed.filter(col("term") === StatsTerm)
      .agg(sum(col("tf")).cast(DoubleType).as("n"),
        sum(col("dl")).cast(DoubleType).as("sumdl"))
    val tf = landed.filter(col("term").isin(terms: _*))
    val topk = udaf(new TopKAgg(RetrievalQueries.LexPostK))
    val post = tf
      .groupBy(col("term"))
      .agg(count(lit(1)).cast(DoubleType).as("df"),
        topk(col("tf").cast(DoubleType), col("doc_id")).as("pk"))
      .select(col("term"), col("df"), explode(col("pk")).as("p"))
      .select(col("term"), col("df"), col("p.id").as("doc_id"), col("p.sim").as("tf"))
      .join(tf.select(col("doc_id"), col("dl")).distinct(), Seq("doc_id"))
    RetrievalQueries.scoreLexIndex(post, stats)
  }

  /** Fold accumulated per-epoch files into one per shard — the live
    * stream keeps committing alongside (marker algebra). */
  def compact(spark: SparkSession, outDir: String): Option[Long] =
    StreamShardedExport.compact(spark, outDir, NumShards)
}
