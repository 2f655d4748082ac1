package graft

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries
import graft.streaming.MicroBatch

/** Stream ≡ batch for the quality-classifier gate: documents scored
  * in-flight against the pretrained linear model must get bit-for-bit
  * the scores and keep/drop decisions the batch scorer assigns, across
  * micro-batch boundaries, and the batch scorer itself must agree with
  * the self-contained oracle query's predictions on the training set. */
class StreamClassifierSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-classifier-spec")

  private val sfDir = "/root/testdata/sf0.001"

  test("scoreWithClassifier reproduces the oracle query's predictions on the training corpus") {
    val docs = Tables.load(spark, sfDir, "documents")
    val model = TextQueries.trainClassifier(docs)
    val viaModel = TextQueries.scoreWithClassifier(docs, model)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    val oracle = TextQueries.textClassifierScore(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("score"), r.getAs[Boolean]("predict_pos")))).toMap
    assert(viaModel == oracle, {
      val diff = oracle.keySet.filter(k => viaModel.get(k) != oracle.get(k)).take(3)
      s"model path diverges from the oracle query on ${diff.map(k => (k, viaModel.get(k), oracle.get(k)))}"
    })
  }

  test("in-stream scores equal batch scores across micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
    val model = TextQueries.trainClassifier(docs)

    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[(Long, String)]
    val collected = mutable.ArrayBuffer[Row]()
    val cp = java.nio.file.Files.createTempDirectory("classifier-cp").toString
    val q = MicroBatch.start(input.toDF().toDF("doc_id", "text"), cp) { (batch, _) =>
      val scored = TextQueries.scoreWithClassifier(batch, model)
      collected.synchronized { collected ++= scored.collect() }
    }
    input.addData(h1.toSeq: _*); q.processAllAvailable()
    input.addData(h2.toSeq: _*); q.processAllAvailable()
    q.stop()

    val streamed = collected.map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    val batch = TextQueries.scoreWithClassifier(docs, model)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(streamed.size == rows.length, s"${streamed.size} of ${rows.length} docs scored")
    assert(streamed == batch, "stream and batch scores diverge")
    // the gate actually gates: both decisions appear
    val kept = streamed.values.count(_._2)
    assert(kept > 0 && kept < rows.length, s"degenerate gate: $kept kept of ${rows.length}")
  }
}
