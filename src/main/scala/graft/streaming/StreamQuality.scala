package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous data-quality gating — the streaming face of
  * [[graft.queries.QualityQueries]]: every micro-batch is scored
  * against the declared rules in ONE conditional-count aggregation,
  * violating rows are QUARANTINED (the dead-letter shape: auditable,
  * replayable, never silently dropped), clean rows flow to the
  * downstream sink, and per-rule counters accumulate on the ops
  * surface (`/metrics`) so a drifting upstream shows up as a rising
  * violation rate, not a corrupted warehouse.
  *
  * Scale shape: rules are per-row predicates — the audit agg and the
  * clean/violating split are scan-local over the micro-batch (the
  * batch is cached once, read twice, unpersisted); no state is keyed
  * across batches, so the stream runs forever at any rate. Rule
  * evaluation cost is counters, not passes — adding a rule adds a
  * conditional sum, exactly like the batch audit.
  */
object StreamQuality {

  /** A declarative rule: `violation` is a boolean Column over the
    * stream's schema; a row violating ANY rule is quarantined. */
  final case class Rule(name: String, violation: Column)

  def anyViolation(rules: Seq[Rule]): Column =
    rules.map(r => coalesce(r.violation, lit(false))).reduce(_ || _)

  /** Start gating `stream`: clean rows → `downstream(batch, epochId)`,
    * violating rows appended under `quarantineDir` (with the rule names
    * that fired), counters into `metrics` keyed by `table`. */
  def start(stream: DataFrame, rules: Seq[Rule], metrics: ReplicationMetrics,
      table: String, quarantineDir: String, checkpoint: String)(
      downstream: (DataFrame, Long) => Unit): StreamingQuery = {
    require(rules.nonEmpty, "no rules declared")
    MicroBatch.start(stream, checkpoint) { (batch, id) =>
      gateBatch(batch, id, rules, metrics, table, quarantineDir)(downstream)
    }
  }

  /** One micro-batch through the gate — also the unit the spec drives
    * directly. */
  private[graft] def gateBatch(batch: DataFrame, epochId: Long, rules: Seq[Rule],
      metrics: ReplicationMetrics, table: String, quarantineDir: String)(
      downstream: (DataFrame, Long) => Unit): Unit = {
    val cached = batch.persist()
    try {
      val counters =
        count(lit(1)).as("n") +:
          rules.map(r => sum(when(coalesce(r.violation, lit(false)), 1L).otherwise(0L)).as(r.name))
      val row = cached.agg(counters.head, counters.tail: _*).head()
      metrics.add("quality_rows_checked", table, row.getLong(0))
      rules.zipWithIndex.foreach { case (r, i) =>
        metrics.add(s"quality_violations_${r.name}", table, row.getLong(i + 1))
      }
      val bad = cached.filter(anyViolation(rules))
      if (!bad.isEmpty) {
        // dead-letter exactly-once: a redelivered micro-batch after a
        // crash/restart must not append the same violations twice. Each
        // epoch lands ONCE under its own partition dir
        // (`MicroBatch.landEpoch`): a completed prior attempt is
        // skipped, a crashed partial attempt only ever exists under the
        // hidden tmp name readers ignore.
        MicroBatch.landEpoch(
          bad.withColumn("_rules_fired", concat_ws(",",
            rules.map(r => when(coalesce(r.violation, lit(false)), r.name)): _*)),
          quarantineDir, epochId)
      }
      downstream(cached.filter(!anyViolation(rules)), epochId)
    } finally {
      cached.unpersist()
      ()
    }
  }
}
