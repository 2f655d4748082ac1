package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Kmv, KmvAgg, KmvMergeAgg}
import graft.queries.TextQueries

/** The per-source corpus dashboard maintained CONTINUOUSLY — the
  * streaming face of `corpus_source_stats`: every micro-batch lands one
  * bounded partial-aggregate row set, and the dashboard read merges the
  * partials without ever rescanning a document.
  *
  * This is where the exact-integer design pays off at 100 TB: volume,
  * token mass, and the five quality signals are plain long sums —
  * associative, so per-epoch partials merge to EXACTLY the batch
  * answer at any merge order. The one non-mergeable batch statistic
  * (distinct-document count for the dup ratio) is carried as a KMV
  * sketch instead (≤ k longs per (source, lang), merge = sorted-distinct
  * merge, exact below capacity, deterministic estimate above it).
  *
  * Exactly-once without a transactional sink: a stream lands each
  * epoch's [[partials]] once through [[MicroBatch.landEpoch]] (tmp-write
  * → atomic rename, the quarantine protocol) — a redelivered
  * micro-batch is skipped, a crashed attempt only ever exists under a
  * hidden tmp name. State on disk grows by
  * ≤ |sources × langs| rows per epoch — metadata-sized — and the
  * merge-on-read dashboard is one hash agg over that partial table.
  */
object StreamSourceStats {

  /** KMV capacity for the distinct-doc sketch: σ ≈ 1/√(k−2) ≈ 6 %,
    * exact below 256 distinct docs per (source, lang, epoch) horizon. */
  val SketchK = 256

  /** One micro-batch's partial rows: per (source, lang) exact sums plus
    * the distinct-fingerprint sketch. */
  def partials(batch: DataFrame): DataFrame = {
    val kmv = udaf(new KmvAgg(SketchK))
    batch
      .select(Seq(col("source"), col("lang"),
        Kmv.keyHash(md5(lower(regexp_replace(col("text"), "\\s+", " ")))).as("fph")) ++
        TextQueries.qualityCounts(col("text")): _*)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
        sum(col("stop_hits")).as("s_stop"), sum(col("distinct_toks")).as("s_dist"),
        sum(col("alnum_chars")).as("s_alnum"), sum(col("n_chars")).as("s_chars"),
        kmv(col("fph")).as("fp_kmv"))
  }

  /** The dashboard: merge every landed epoch's partials — long sums add,
    * sketches KMV-merge, the quality chain runs once per source over the
    * merged exact sums (the corpus_source_stats arithmetic verbatim).
    * `dup_ratio_est` uses the sketch estimate (exact below capacity). */
  def dashboard(spark: SparkSession, outDir: String): DataFrame = {
    val merge = udaf(new KmvMergeAgg(SketchK))
    spark.read.parquet(outDir)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tokens")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("s_stop")).as("s_stop"), sum(col("s_dist")).as("s_dist"),
        sum(col("s_alnum")).as("s_alnum"), sum(col("s_chars")).as("s_chars"),
        merge(col("fp_kmv")).as("fp_kmv"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        Kmv.estimate(col("fp_kmv"), SketchK).as("distinct_docs_est"),
        ((col("n_docs").cast("double") - Kmv.estimate(col("fp_kmv"), SketchK))
          / col("n_docs").cast("double")).as("dup_ratio_est"),
        col("n_langs"),
        TextQueries.qualityFromCounts(col("s_stop"), col("total_tokens"),
          col("s_dist"), col("s_alnum"), col("s_chars")).as("avg_quality"))
      .orderBy(col("source"))
  }
}
