package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.DsirQueries
import graft.streaming.{MicroBatch, StreamDsirMaintain}

/** Continuously-maintained DSIR model ≡ batch-trained model: because
  * bucket counts are associative long sums and the weight chain is
  * shared, the model derived from streamed epoch partials must equal
  * `trainDsir` over the full corpus bit-for-bit — across micro-batch
  * boundaries and under epoch redelivery. */
class StreamDsirMaintainSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-dsir-maintain-spec")

  private val sfDir = "/root/testdata/sf0.001"

  private def weightsOf(m: DsirQueries.DsirModel): Map[Long, Long] =
    m.weights.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("model from streamed partials equals the batch-trained model bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
    val rows = docs.select("doc_id", "lang", "text").as[(Long, String, String)].collect()
    val (h1, h2) = rows.splitAt(rows.length / 3)

    val outDir = Files.createTempDirectory("dsir-maintain").toString
    val input = MemoryStream[(Long, String, String)]
    val cp = Files.createTempDirectory("dsir-maintain-cp").toString
    val q = MicroBatch.start(input.toDF().toDF("doc_id", "lang", "text"), cp) { (batch, id) =>
      MicroBatch.landEpoch(StreamDsirMaintain.partials(batch), outDir, id)
    }
    input.addData(h1.toSeq: _*); q.processAllAvailable()
    input.addData(h2.toSeq: _*); q.processAllAvailable()
    q.stop()

    val streamed = StreamDsirMaintain.model(spark, outDir)
    val batch = DsirQueries.trainDsir(docs)
    assert(streamed.defaultFp == batch.defaultFp, "fallback weights diverge")
    assert(weightsOf(streamed) == weightsOf(batch), "bucket weights diverge")

    // and the maintained model scores arrivals exactly like the batch model
    val sNew = DsirQueries.scoreWithDsir(docs, streamed)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val sOld = DsirQueries.scoreWithDsir(docs, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sNew == sOld)
  }

  test("a redelivered epoch is skipped, leaving counts unchanged") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("dsir-redeliver").toString
    val batch = Seq((0L, "en", "a b c"), (1L, "fr", "d e f"))
      .toDF("doc_id", "lang", "text")
    assert(MicroBatch.landEpoch(StreamDsirMaintain.partials(batch), outDir, 0L))
    val once = weightsOf(StreamDsirMaintain.model(spark, outDir))
    assert(!MicroBatch.landEpoch(StreamDsirMaintain.partials(batch), outDir, 0L),
      "redelivery must not write")
    assert(weightsOf(StreamDsirMaintain.model(spark, outDir)) == once,
      "redelivered epoch changed the model")
  }
}
