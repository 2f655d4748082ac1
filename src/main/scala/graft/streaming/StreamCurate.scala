package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.PiiRedact
import graft.queries.{CurationQueries, NearDupIndex, TextQueries}

/** The continuous-ingest curation pipeline composed end-to-end — the
  * streaming face of the nightly `corpus_curate` job: documents are
  * quality-gated, blocklist-enforced, PII-redacted, and landed
  * exactly-once into the sharded training layout AS THEY ARRIVE.
  *
  * Composition, not reimplementation — every stage is the SAME code its
  * batch twin runs:
  *  - quality/language gate: [[TextQueries.scoredDocs]], the one
  *    projection `corpus_filter` scores with, so ingest-time and
  *    nightly curation can never disagree on a document;
  *  - takedown enforcement: [[StreamBlocklist.cleanStream]] (bloom-
  *    negative rows skip the anti-join; stream-static join re-reads a
  *    refreshed blocklist every micro-batch);
  *  - PII redaction: [[PiiRedact.redact]], the driver-gated per-row
  *    chain;
  *  - landing: [[StreamShardedExport.commitBatch]] — per-epoch
  *    idempotent commit, so a redelivered batch never double-lands.
  *
  * Streaming STATE is zero: every stage is per-row or stream-static, so
  * the query runs forever at any rate. Near-duplicate removal against
  * the LANDED corpus composes in via `neardup` (the persisted
  * [[graft.queries.NearDupIndex]], a stream-static probe — still zero
  * state). The index contract: it is built over the LANDED (post-
  * PII-redaction) text — rebuild it from the landed shards — and the
  * probe redacts incoming text with the same [[PiiRedact.redact]]
  * chain before shingling, so probe and corpus derive identical
  * shingles even around redacted spans. Dedup WITHIN the stream
  * remains stateful and owned by
  * [[StreamDedup]]/[[StreamNearDup]] upstream, or by the nightly batch
  * dedup over the landed shards.
  */
object StreamCurate {

  /** One micro-batch through the full curation chain — shared by the
    * streaming query and directly callable for stream≡batch assertions.
    * With `model` set, the batch-trained LEARNED gate
    * ([[TextQueries.ClsModel]] via [[TextQueries.scoreWithClassifier]]) runs
    * AFTER the rule gate — the modern two-stage shape (cheap rules
    * first, classifier on the survivors); still zero streaming state
    * (one broadcast weight join per micro-batch). */
  def curateBatch(batch: DataFrame, block: DataFrame, words: Array[Long],
      qualityThreshold: Double = TextQueries.QualityThreshold,
      model: Option[TextQueries.ClsModel] = None,
      gopherGate: Boolean = false,
      domainBlock: Option[(DataFrame, Array[Long])] = None,
      neardup: Option[NearDupIndex] = None): DataFrame = {
    // domain-level gate FIRST when configured — crawl pipelines drop
    // blocklisted domains before paying ANY content work (tokenization,
    // quality scoring, classifier prediction are all downstream of this
    // cheap per-row domain projection). Same bloom-prefiltered exact
    // shape as the content blocklist, keyed on the document's
    // registrable domain (`corpus_domain_blocklist`'s batch twin) —
    // zero streaming state, the blocked-domain table re-reads per
    // micro-batch so list refreshes apply live.
    val domainGated = domainBlock.fold(batch) { case (blocked, dwords) =>
      StreamBlocklist.cleanStream(
          batch.withColumn("domain",
            CurationQueries.domainOf(CurationQueries.canonicalUrl(CurationQueries.urlOf))),
          blocked, dwords, fpCol = "domain")
        .drop("domain")
    }
    // with `gopherGate`, the full Gopher/MassiveText rule set runs as
    // part of the cheap rule stage — the SAME gopherSignals/pass
    // definitions `text_gopher_rules` and `corpus_funnel` report on,
    // so the funnel's stage-1 numbers describe exactly what this gate
    // admits; still a pure per-row predicate, zero streaming state
    val scored = TextQueries.scoredDocs(domainGated)
      .filter(col("quality") >= qualityThreshold && col("is_en"))
    val ruleGated =
      if (gopherGate) scored.filter(TextQueries.gopherPassExpr(col("text")))
      else scored
    val gated = model.fold(ruleGated) { m =>
      // score the domain-survivor rows, not ruleGated: the semi join
      // already intersects with rule survivors, scoring is per-doc
      // deterministic, and reusing ruleGated would re-run the whole
      // scoredDocs pipeline on both join sides every micro-batch
      ruleGated.join(
        TextQueries.scoreWithClassifier(domainGated.select(col("doc_id"), col("text")), m)
          .filter(col("predict_pos")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    }
    // corpus near-dup drop gate: a doc that near-duplicates the LANDED
    // corpus must not re-land. Probe the domain-survivor rows, not
    // `gated` — matching is per-doc deterministic and the anti join
    // intersects with gate survivors anyway, so this avoids re-running
    // the scoring pipeline on both join sides (the learned-gate
    // rationale above). Stream-static: the corpus side never
    // re-shuffles, the batch's band keys broadcast, zero state.
    // Probe POST-redaction text: the landed corpus this gate guards is
    // written after PiiRedact (the landing select below), so an index
    // rebuilt from the landed shards shingles redacted text — probing
    // raw text would see different shingles around redacted spans and
    // miss near-duplicates. Redaction is the same per-row chain the
    // landing applies, so probe and corpus derivations always match.
    val deduped = neardup.fold(gated) { idx =>
      gated.join(
        NearDupIndex.matchBatch(idx,
            domainGated.select(col("doc_id"), PiiRedact.redact(col("text")).as("text")))
          .select(col("new_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    }
    StreamBlocklist.cleanStream(deduped, block, words)
      .select(col("doc_id"),
        PiiRedact.redact(col("text")).as("text"),
        round(col("quality"), 6).as("quality"))
  }

  /** Start curating `docs` (a STREAMING `(doc_id, text)` frame) into
    * `outDir`'s exactly-once sharded layout. */
  def start(docs: DataFrame, block: DataFrame, words: Array[Long],
      outDir: String, numShards: Int, checkpoint: String,
      model: Option[TextQueries.ClsModel] = None,
      neardup: Option[NearDupIndex] = None): StreamingQuery =
    MicroBatch.start(docs, checkpoint) { (batch, id) =>
      StreamShardedExport.commitBatch(
        curateBatch(batch, block, words, model = model, neardup = neardup),
        "doc_id", outDir, numShards, id)
    }
}
