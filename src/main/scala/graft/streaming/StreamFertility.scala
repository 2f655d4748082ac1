package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-language tokenizer-fertility telemetry maintained CONTINUOUSLY —
  * the streaming face of `text_fertility`. Every component is an exact
  * long sum (docs, whitespace words, BPE-ish subwords, chars), so
  * per-epoch partials merge to EXACTLY the batch answer at any merge
  * order — no sketches needed, the simplest possible mergeable state.
  *
  * Exactly-once via the partial-table protocol (`StreamSourceStats`):
  * a stream runs `MicroBatch.start(docs, checkpoint) { (b, id) =>
  * MicroBatch.landEpoch(partials(b), outDir, id) }`, so each epoch lands
  * one ≤ |languages|-row partial set once and a redelivered micro-batch
  * is skipped. The report is one hash agg over the metadata-sized
  * partial table — a document is never rescanned.
  */
object StreamFertility {

  /** One micro-batch's partials: per-lang exact count/sum rows. */
  def partials(batch: DataFrame): DataFrame =
    batch
      .select(col("lang"),
        size(graft.queries.TextQueries.toks(col("text"))).cast("long").as("ws"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("bpe"),
        length(col("text")).cast("long").as("nc"))
      .filter(col("ws") > 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"), sum(col("nc")).as("n_chars"))

  /** The report: merge every landed epoch's partials and run the
    * `text_fertility` integer chain over the merged sums — bit-equal to
    * the batch query over the union of all epochs' documents. */
  def report(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("ws_tokens")).as("ws_tokens"),
        sum(col("bpe_tokens")).as("bpe_tokens"), sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        expr("bpe_tokens * 1000000L div ws_tokens").as("fertility_e6"),
        expr("n_chars * 1000000L div ws_tokens").as("chars_per_word_e6"))
      .orderBy(col("lang"))
}
