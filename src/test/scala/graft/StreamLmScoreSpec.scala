package graft

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries
import graft.streaming.MicroBatch

/** Stream ≡ batch for LM scoring: documents scored in-flight against a
  * pretrained model must get bit-for-bit the scores the batch scorer
  * assigns, across micro-batch boundaries, with OOV bigrams floored
  * rather than dropped. */
class StreamLmScoreSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-lm-score-spec")

  test("in-stream scores equal batch scores, including OOV handling") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // train on a small corpus with a dominant bigram
    val corpus = (
      Seq((100L, "the quick fox jumps"), (101L, "the quick dog runs")) ++
        (102L to 109L).map(i => (i, "the quick fox sleeps"))
      ).toDF("doc_id", "text")
    val model = TextQueries.trainLm(corpus)

    // stream: one doc of in-model text, one with out-of-model bigrams
    val input = MemoryStream[(Long, String)]
    val collected = mutable.ArrayBuffer[Row]()
    val cp = java.nio.file.Files.createTempDirectory("lm-score-cp").toString
    val q = MicroBatch.start(input.toDF().toDF("doc_id", "text"), cp) { (batch, _) =>
      val scored = TextQueries.scoreAgainst(batch, model)
      collected.synchronized { collected ++= scored.collect() }
    }
    input.addData((1L, "the quick fox jumps"))
    q.processAllAvailable()
    input.addData((2L, "purple elephant tango"))
    q.processAllAvailable()
    q.stop()

    def keyed(r: Row) = r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("oov_bigrams"),
        r.getAs[Double]("bits_per_bigram")))
    val streamed = collected.map(keyed).toMap
    val batch = TextQueries.scoreAgainst(
        Seq((1L, "the quick fox jumps"), (2L, "purple elephant tango"))
          .toDF("doc_id", "text"), model)
      .collect().map(keyed).toMap

    assert(streamed == batch,
      s"stream and batch scores diverge:\n$streamed\n$batch")
    assert(streamed(2L)._2 == 2L, "both novel bigrams counted as OOV")
    assert(streamed(1L)._2 == 0L, "in-model doc has no OOV bigrams")
    assert(streamed(2L)._3 > streamed(1L)._3,
      "out-of-model text must cost more bits than in-model text")
  }
}
