package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.BpeQueries
import graft.streaming.MicroBatch

// top-level: Spark can't encode a case class nested inside the suite
case class BpeDoc(doc_id: Long, text: String)

/** Ingest-time BPE token counting: the stream must count token-for-token
  * what the batch encoder counts over the same rows with the same
  * trained merges — the tokenizer train/apply split. */
class StreamBpeEncodeSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-bpe-spec")
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("stream ≡ batch token counts under the trained tokenizer") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").as[BpeDoc].collect().toSeq.take(120)
    val merges = BpeQueries.trainMerges(docs.toDF(), numMerges = 8)
    assert(merges.size == 8)

    val input = MemoryStream[BpeDoc]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val cp = java.nio.file.Files.createTempDirectory("bpe-encode-cp").toString
    val q = MicroBatch.start(input.toDF(), cp) { (batch, _) =>
      got ++= BpeQueries.encodeCorpus(batch, merges).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    try {
      input.addData(docs.take(60))
      q.processAllAvailable()
      input.addData(docs.drop(60))
      q.processAllAvailable()
    } finally q.stop()

    val direct = BpeQueries.encodeCorpus(docs.toDF(), merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sorted.toSeq == direct.sorted.toSeq,
      s"stream (${got.size} rows) diverges from batch (${direct.length})")
    // merges genuinely compress: token count strictly below char count
    // for at least one multi-char word corpus
    assert(got.map(_._3).sum < docs.map(_.text.count(_ != ' ')).sum)
  }
}
