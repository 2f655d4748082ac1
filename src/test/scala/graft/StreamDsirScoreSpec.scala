package graft

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.DsirQueries
import graft.streaming.MicroBatch

/** Stream ≡ batch for DSIR importance scoring: documents scored
  * in-flight against the pretrained hashed-n-gram model must get
  * bit-for-bit the batch scorer's fixed-point scores across micro-batch
  * boundaries, the train/apply split must agree with the self-contained
  * oracle query on the training corpus, and unseen-bucket tokens must
  * take the smoothed fallback instead of dropping. */
class StreamDsirScoreSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-dsir-spec")

  private val sfDir = "/root/testdata/sf0.001"

  test("train/apply split reproduces the self-contained oracle query's scores") {
    val docs = Tables.load(spark, sfDir, "documents")
    val model = DsirQueries.trainDsir(docs)
    val split = DsirQueries.scoreWithDsir(docs, model)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val oracle = DsirQueries.corpusDsirScore(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tok"), r.getAs[Long]("score_fp")))).toMap
    assert(split == oracle, {
      val diff = oracle.keySet.filter(k => split.get(k) != oracle.get(k)).take(3)
      s"split path diverges on ${diff.map(k => (k, split.get(k), oracle.get(k)))}"
    })
  }

  test("unseen tokens take the fallback weight, not a drop or a null") {
    import spark.implicits._
    val corpus = Seq((0L, "en", "alpha beta gamma"), (1L, "fr", "un deux trois"))
      .toDF("doc_id", "lang", "text")
    val model = DsirQueries.trainDsir(corpus)
    val out = DsirQueries.scoreWithDsir(
      Seq((9L, "en", "zzz qqq www")).toDF("doc_id", "lang", "text"), model)
      .collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 3L, "all three unseen tokens scored")
    assert(out.head.getLong(2) == 3L * model.defaultFp,
      s"unseen tokens must each take defaultFp=${model.defaultFp}")
  }

  test("in-stream scores equal batch scores across micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
    val model = DsirQueries.trainDsir(docs)

    val rows = docs.select("doc_id", "lang", "text").as[(Long, String, String)].collect()
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[(Long, String, String)]
    val collected = mutable.ArrayBuffer[Row]()
    val cp = java.nio.file.Files.createTempDirectory("dsir-score-cp").toString
    val q = MicroBatch.start(input.toDF().toDF("doc_id", "lang", "text"), cp) { (batch, _) =>
      val scored = DsirQueries.scoreWithDsir(batch, model)
      collected.synchronized { collected ++= scored.collect() }
    }
    input.addData(h1.toSeq: _*); q.processAllAvailable()
    input.addData(h2.toSeq: _*); q.processAllAvailable()
    q.stop()

    val streamed = collected.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = DsirQueries.scoreWithDsir(docs, model)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed.size == rows.length, s"${streamed.size} of ${rows.length} docs scored")
    assert(streamed == batch, "stream and batch scores diverge")
  }
}
