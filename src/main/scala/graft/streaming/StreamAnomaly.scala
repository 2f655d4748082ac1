package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.Analytics

/** Streaming ingest-drift detection — the continuous face of the batch
  * `events_anomaly` query: hourly per-type volumes z-scored against a
  * baseline trained on the landed log (train nightly in batch, apply
  * continuously on the stream — the same split [[MicroBatch]] serves
  * for the stateless scorers).
  *
  * Spark-first shape:
  *  - The baseline is ONE row per event type holding the hourly-count
  *    moments (bucket count, Σn, Σn²) — corpus-sublinear model state
  *    that AQE broadcasts into every micro-batch join.
  *  - The stream itself runs a watermarked tumbling-window count:
  *    per-window state is one long per (window, type), evicted when the
  *    watermark closes the window — a stream running for months holds
  *    state only for open hours.
  *  - Scoring happens per micro-batch on the CLOSED windows via
  *    `foreachBatch`, so the z arithmetic is the identical chain the
  *    batch query uses (mean = Σn/c, var = (Σn² − Σn·Σn/c)/(c−1)) — the
  *    spec asserts stream ≡ batch on the same rows.
  *
  * Rising anomaly rates on the stream are the operational signal that
  * the baseline no longer matches the ingest (crawl change, upstream
  * outage, duplicate storm) — exactly the drift `oov_bigrams` signals
  * for the stream-applied bigram LM ([[graft.queries.TextQueries.scoreAgainst]]).
  */
object StreamAnomaly {

  /** Per-type hourly-count moments from the LANDED batch log
    * (`ts` = ns-epoch long, the `Tables.load` contract): one row per
    * event type — bounded model state, like [[graft.queries.TextQueries]]'
    * LM frames. Bucketing and the n² widening are [[Analytics]]' own
    * helpers, so training is definitionally the batch query's math. */
  def baseline(ev: DataFrame): DataFrame =
    ev.groupBy(Analytics.hourBucket.as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(count(col("n")).as("b_cnt"), sum(col("n")).as("b_sum"),
        sum(Analytics.nSquared(col("n"))).as("b_sumsq"))

  /** z-score a `(event_type, win_start, n)` frame against the baseline
    * through [[Analytics.anomalyZ]] — the SAME chain the batch query
    * runs, so stream and batch agree bit-for-bit on the same rows.
    * Types the baseline never saw score NULL (never flag): they are
    * their own, louder signal. */
  def scoreAgainst(counts: DataFrame, base: DataFrame): DataFrame =
    counts.join(base, Seq("event_type"), "left")
      .withColumn("z",
        Analytics.anomalyZ(col("n"), col("b_cnt"), col("b_sum"), col("b_sumsq")))
      .select(col("event_type"), col("win_start"), col("n"),
        round(col("z"), 6).as("z"),
        Analytics.anomalyFlag(col("z")).as("is_anomaly"))

  /** Start scoring `events` (a STREAMING frame with a timestamp `ts`
    * and `event_type`): watermarked hourly counts, each batch of closed
    * windows scored against the static baseline and handed to `sink`.
    * The window state lives in `checkpoint`. */
  def scored(events: DataFrame, base: DataFrame, checkpoint: String,
      watermark: String = "2 hours")(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val counts = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("w.start").as("win_start"), col("n"))
    MicroBatch.start(counts, checkpoint) { (batch, id) =>
      sink(scoreAgainst(batch, base), id)
    }
  }
}
