package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.storage.Publish

/** The one micro-batch adapter every `foreachBatch` face starts
  * through. For the stateless scorers a model or index is trained in
  * batch over the landed corpus, and `each` applies it to every arriving
  * micro-batch with the batch kernel itself, so stream ≡ batch by
  * construction and nothing is keyed across batches.
  * (`IncrementalPipeline.start` is the only other `writeStream`: it
  * names the query, sets a trigger and reads source options of its own.)
  *
  * The checkpoint is a required argument, not an option: exactly-once
  * sinks key their idempotence on the epoch id, and a restart on a fresh
  * checkpoint rewinds the source and restarts epoch ids at 0 — a landed
  * `epoch=0` would then make the new batch look like a redelivery and
  * drop it.
  */
object MicroBatch {

  /** Start `rows` (a STREAMING frame) in append mode; `each` runs once
    * per micro-batch with its epoch id. */
  def start(rows: DataFrame, checkpoint: String)(
      each: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(each)
      .start()

  /** Land one epoch's `partial` frame once under `outDir/epoch=<id>`
    * (tmp-write → atomic rename); a redelivered epoch is skipped without
    * computing `partial`. True if this call wrote. */
  def landEpoch(partial: DataFrame, outDir: String, epochId: Long): Boolean =
    Publish.landDirOnce(Paths.get(outDir, s"epoch=$epochId")) { tmp =>
      partial.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }.isDefined
}
