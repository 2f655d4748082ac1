package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.MediaQueries

/** Continuous audio-fingerprint dedup against a landed corpus — the
  * audio twin of [[StreamFrameNeardup]], completing the second
  * modality's lifecycle (batch query `mm_audio_dedup` → persisted
  * index → streaming probe → exactly-once landing): as payloads
  * arrive, sniff-route the audio, fingerprint it, probe the persisted
  * corpus index, and either emit the match or land the fresh payload.
  *
  * Spark-first scale design:
  *   - The fingerprint is the SAME per-row derivation the batch dedup
  *     and the index build run ([[MediaQueries.audioFingerprints]]:
  *     magic-byte sniff + Haitsma–Kalker energy-delta sign hash), so
  *     stream ≡ batch by construction — zero shuffle to reach a probe
  *     key, and a real PCM decoder slots in behind the same boundary.
  *   - The index probe is a stream-STATIC equi-join on the 32-bit
  *     fingerprint; `afp` is UNIQUE in the index (one canonical doc per
  *     fingerprint), so each arriving row emits at most one match and —
  *     unlike the frame face, whose multi-fingerprint candidates need a
  *     watermarked dedup — this face carries ZERO streaming state.
  *   - Landing is [[StreamShardedExport.commitBatch]]: per-epoch
  *     idempotent, so a redelivered batch never double-lands.
  *
  * This is the audio LANE of a modality-routed ingest: non-audio rows
  * pass the gate untouched (the sniff that routes them here is the
  * same one that routes frames to [[StreamFrameNeardup]]).
  */
object StreamAudioDedup {

  /** Build the corpus fingerprint index over landed `(doc_id, content)`
    * audio: ONE hash-agg to (afp, dup_of) with the canonical (min) doc
    * per fingerprint — `mm_audio_dedup`'s grouping, kept at every
    * fingerprint (not just the already-duplicated ones) because the
    * probe must also catch the FIRST re-arrival of a unique payload.
    * The SAME core the oracle-gated `mm_audio_dedup_incremental` probes
    * ([[MediaQueries.audioFingerprintIndex]]), so the continuous face
    * serves exactly the batch query's verdicts. Persist with
    * `.write.parquet`; corpus-fingerprint-count rows. */
  def fingerprintIndex(corpus: DataFrame): DataFrame =
    MediaQueries.audioFingerprintIndex(corpus)

  /** Matches of a streaming (or batch — shared for stream≡batch specs)
    * `(idCol, content)` frame against the index: one row
    * (idCol, afp, dup_of) per arriving payload whose fingerprint is
    * already landed. Zero state, append mode. */
  def matchedStream(media: DataFrame, index: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    MediaQueries.audioFingerprints(media.select(col(idCol), col("content")), Seq(idCol))
      .join(index.select(col("afp"), col("dup_of")), Seq("afp"))
      .filter(col(idCol) =!= col("dup_of"))
      .select(col(idCol), col("afp"), col("dup_of"))

  /** One micro-batch of the ingest chain — batch rows whose audio
    * fingerprint matches the landed corpus are DROPPED, everything
    * else (fresh audio AND non-audio rows, which this lane does not
    * judge) passes through. Directly callable for stream ≡ batch
    * assertions.
    *
    * The drop is on FINGERPRINT PRESENCE alone, deliberately ignoring
    * [[matchedStream]]'s different-doc filter: a re-upload carrying the
    * canonical doc's own id (same bytes, same doc_id) is still a
    * duplicate payload, and the sharded layout is append-only — landing
    * it would put a second row under a landed doc_id. Same-id
    * re-uploads are therefore dedup drops here; true UPDATES belong to
    * a keyed merge target ([[graft.snapshot.TargetTable]]), not an
    * append-only corpus. */
  def curateBatch(batch: DataFrame, index: DataFrame): DataFrame =
    batch.join(
      MediaQueries.audioFingerprints(batch.select(col("doc_id"), col("content")), Seq("doc_id"))
        .join(index.select(col("afp")), Seq("afp"))
        .select(col("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Start the continuous ingest: `docs` (a STREAMING
    * `(doc_id, content)` frame) lands exactly-once into `outDir`'s
    * sharded layout, minus payloads fingerprint-matching the corpus. */
  def start(docs: DataFrame, index: DataFrame, outDir: String,
      numShards: Int, checkpoint: String): StreamingQuery =
    MicroBatch.start(docs, checkpoint) { (batch, id) =>
      StreamShardedExport.commitBatch(
        curateBatch(batch, index), "doc_id", outDir, numShards, id)
    }
}
