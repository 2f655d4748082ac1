package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.DedupQueries
import graft.streaming.MicroBatch

// top-level: Spark can't encode a case class nested inside the suite
case class SpanDoc(doc_id: Long, text: String)

/** Streaming span strip vs the landed corpus span index: corpus-seen
  * spans must vanish, intra-micro-batch duplicates must resolve to the
  * first occurrence, the stream must equal the batch core per
  * micro-batch, and the zero-state contract (cross-batch duplicates
  * wait for the index rebuild) must hold. */
class StreamSpanStripSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-spanstrip-spec")
  import spark.implicits._

  // SpanW = 5 → each 10-word text is exactly two spans
  private val corpusText = "a b c d e f g h i j"
  private lazy val index = DedupQueries.corpusSpanSet(
    Seq(SpanDoc(101, corpusText)).toDF())

  private val freshText = "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10"
  private val batch1 = Seq(
    SpanDoc(1, corpusText),                         // exact corpus copy
    SpanDoc(2, "a b c d e x1 x2 x3 x4 x5"),         // head span is corpus-seen
    SpanDoc(3, freshText),                          // fully fresh
    SpanDoc(4, freshText))                          // intra-batch dup of 3

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq

  test("batch core: corpus spans stripped, intra-batch firsts win") {
    val got = collect(DedupQueries.spanStripAgainst(batch1.toDF(), index)).sortBy(_._1)
    assert(got == Seq(
      (1L, 2L, 0L, ""),                             // every span corpus-seen
      (2L, 2L, 1L, "x1 x2 x3 x4 x5"),               // head stripped, tail kept
      (3L, 2L, 2L, freshText),                      // untouched
      (4L, 2L, 0L, "")),                            // lost both spans to doc 3
      s"unexpected strip result: $got")
  }

  test("stream ≡ batch core per micro-batch; no cross-batch state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SpanDoc]
    val perBatch = scala.collection.mutable.ArrayBuffer[Seq[(Long, Long, Long, String)]]()
    val cp = java.nio.file.Files.createTempDirectory("span-strip-cp").toString
    val q = MicroBatch.start(input.toDF(), cp) { (batch, _) =>
      perBatch += collect(DedupQueries.spanStripAgainst(batch, index))
    }
    val resend = Seq(SpanDoc(5, freshText)) // doc 3's text again, next batch
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(resend: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(perBatch.size == 2, s"expected 2 micro-batches, got ${perBatch.size}")
    assert(perBatch(0).sortBy(_._1) ==
      collect(DedupQueries.spanStripAgainst(batch1.toDF(), index)).sortBy(_._1),
      "micro-batch 1 diverges from the batch core")
    // zero streaming state: the re-sent text is NOT stripped against
    // batch 1 — cross-batch duplicates are the index rebuild's job
    assert(perBatch(1) == Seq((5L, 2L, 2L, freshText)),
      s"cross-batch state leaked into micro-batch 2: ${perBatch(1)}")
  }
}
