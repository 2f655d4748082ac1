package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cdc.Envelope
import graft.snapshot.TargetTable

/** SCD type-2 history maintained CONTINUOUSLY from the change stream —
  * the streaming face of `cdc_scd2` (queries/CdcQueries.scala). The
  * reference's merge sink keeps only each key's latest image
  * (`replicate/increment.go` merge path); dimension-history consumers
  * need every version with its validity interval instead, and they need
  * it kept current as changes arrive, not recomputed from the full log.
  *
  * Per micro-batch the bill is O(touched buckets + batch):
  *   1. chain the batch's events per key (a window over the BATCH only —
  *      per-key cardinality is the batch's churn on that key);
  *   2. close the currently-open history version of every touched key at
  *      the key's first event timestamp in the batch;
  *   3. append the batch's insert/update events as new versions;
  *   4. commit via `TargetTable.mergeVersion`: only buckets containing
  *      touched keys are rewritten, every other bucket is carried over
  *      by hard link. Exactly-once falls out of the version-id marker —
  *      a redelivered epoch repoints and changes nothing.
  *
  * At 100 TB the history table shards by key hash into `numBuckets`
  * buckets, a batch touches the buckets its keys hash to, and the
  * rewrite cost is bounded by bucket size × batch key spread — the same
  * argument as the merge sink's J2 partition-scoped rewrite.
  */
object StreamScd2 {

  /** History columns appended to the payload. */
  val ValidFrom = "valid_from"
  val ValidTo = "valid_to"

  private def table(spark: SparkSession, dir: String, keyCol: String,
      numBuckets: Int): TargetTable =
    new TargetTable(spark, dir, Seq(keyCol), numBuckets)

  /** The batch's events chained into version rows: every I/U event opens
    * a version at its commit_ts, closed within the batch by the key's
    * next event (any flag), open-ended otherwise. */
  private[streaming] def batchVersions(batch: DataFrame, keyCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(Envelope.CommitTsCol))
    batch
      .withColumn(ValidTo, lead(col(Envelope.CommitTsCol), 1).over(w))
      .filter(col(Envelope.FlagCol) =!= Envelope.Delete)
      .withColumnRenamed(Envelope.CommitTsCol, ValidFrom)
      .drop(Envelope.FlagCol)
  }

  /** Apply one epoch idempotently — the per-micro-batch function a
    * stream hands to [[MicroBatch.start]]; returns true if this call
    * committed. */
  def applyBatch(spark: SparkSession, dir: String, batch: DataFrame,
      keyCol: String, numBuckets: Int, epochId: Long): Boolean = {
    if (batch.isEmpty) return false
    val t = table(spark, dir, keyCol, numBuckets)
    // Exactly-once replay short-circuit BEFORE any validation: if this
    // epoch's version dir already exists, the crash happened between the
    // commit and the checkpoint-offset write, and the redelivered batch's
    // events are already IN the current image. The late-event guard below
    // would then see the epoch's own writes as the "open version"
    // (first_ts < valid_from) and fail a legitimate replay forever — the
    // marker, not the guard, owns redelivery.
    if (t.hasVersion(s"e$epochId")) return t.recommit(s"e$epochId")
    val newRows = batchVersions(batch, keyCol)
    if (!t.exists) return t.writeVersion(newRows, s"e$epochId")
    // First event ts per touched key — what closes the open version.
    val firstTs = batch.groupBy(col(keyCol))
      .agg(min(col(Envelope.CommitTsCol)).as("_first_ts"))
    val touched = t.touchedBuckets(firstTs.select(keyCol))
    val current = t.readBuckets(touched)
    // LOUD late-event guard: the close below assumes commit_ts ordering
    // across epochs — a batch whose first event on a key precedes that
    // key's open version's valid_from would write an inverted interval
    // (valid_to < valid_from) that silently diverges from the batch
    // cdc_scd2 recompute. Upstream delivery (the changefeed) is
    // ts-ordered per key, so this firing means a broken source or a
    // replayed-out-of-order feed — corrupt history is worse than a
    // failed epoch. The check rides the same touched-buckets frame the
    // close reads; cost is one tiny aggregation per epoch.
    val inverted = current.join(firstTs, Seq(keyCol))
      .filter(col(ValidTo).isNull && col("_first_ts") < col(ValidFrom))
    val sample = inverted.select(col(keyCol), col(ValidFrom), col("_first_ts")).head(3)
    require(sample.isEmpty,
      s"epoch $epochId delivers events BEFORE the open version on " +
        s"${sample.mkString("; ")} — out-of-order cross-epoch delivery " +
        "would corrupt the SCD2 history (valid_to < valid_from)")
    val closed = current.join(firstTs, Seq(keyCol), "left")
      .withColumn(ValidTo,
        when(col(ValidTo).isNull && col("_first_ts").isNotNull, col("_first_ts"))
          .otherwise(col(ValidTo)))
      .drop("_first_ts")
    t.mergeVersion(closed.unionByName(newRows), touched, s"e$epochId")
  }

  /** The history table as `cdc_scd2` shapes it: version rows with their
    * validity interval and the open-version flag. */
  def history(spark: SparkSession, dir: String, keyCol: String,
      numBuckets: Int = 16): DataFrame =
    table(spark, dir, keyCol, numBuckets).read()
      .withColumn("is_current", when(col(ValidTo).isNull, lit(1)).otherwise(lit(0)))
}
