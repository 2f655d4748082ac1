package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.DsirQueries

/** The DSIR importance model maintained CONTINUOUSLY — the ingest-time
  * training half that pairs with the apply half
  * ([[DsirQueries.scoreWithDsir]] per micro-batch):
  * every micro-batch lands its per-bucket token counts as one bounded
  * partial row set, and the model read merges partials without ever
  * rescanning a document.
  *
  * Why this is exact (the `StreamSourceStats` argument): bucket counts
  * are plain long sums — associative — so per-epoch partials merged in
  * any order equal the batch-trained counts bit-for-bit, and the weight
  * chain shared with `trainDsir` ([[DsirQueries.modelFromCounts]])
  * therefore yields the IDENTICAL model the nightly batch job would
  * produce. State on disk grows by ≤ `DsirBuckets` rows per epoch —
  * model-sized, never corpus-sized — and deriving the model is one
  * 4096-key hash agg over the partial table.
  *
  * Exactly-once without a transactional sink: a stream lands each
  * epoch's [[partials]] once through [[MicroBatch.landEpoch]]; a
  * redelivered micro-batch is skipped, a crashed attempt only ever
  * exists under a hidden tmp name.
  */
object StreamDsirMaintain {

  /** One micro-batch's partial rows: per-bucket raw/target counts. */
  def partials(batch: DataFrame): DataFrame =
    DsirQueries.bucketedTokens(batch)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("r_cnt"),
        sum(when(col("lang") === DsirQueries.TargetLang, 1L).otherwise(0L)).as("t_cnt"))

  /** The current model: merge every landed epoch's partials (one
    * bucket-keyed hash agg over model-sized state) and run the shared
    * weight chain. Equals `trainDsir` over everything ingested so far. */
  def model(spark: SparkSession, outDir: String): DsirQueries.DsirModel =
    DsirQueries.modelFromCounts(
      spark.read.parquet(outDir)
        .groupBy(col("b"))
        .agg(sum(col("r_cnt")).as("r_cnt"), sum(col("t_cnt")).as("t_cnt")))
}
