package graft

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries
import graft.streaming.MicroBatch

/** Stream ≡ batch for CCNet bucketing: documents bucketed in-flight
  * against the pretrained per-language LM + cuts must get exactly the
  * buckets the batch path assigns, across micro-batch boundaries; the
  * train/apply split must agree with the self-contained oracle query on
  * the training corpus (inner ≡ left joins when nothing is unseen); and
  * out-of-corpus text must bucket, never drop or crash. */
class StreamCcnetBucketSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-ccnet-spec")

  private val sfDir = "/root/testdata/sf0.001"

  private def bucketsOf(rows: Seq[Row]): Map[Long, (Long, String)] =
    rows.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("bpb_fp"), r.getAs[String]("bucket")))).toMap

  test("train/apply split reproduces the self-contained oracle query's buckets") {
    val docs = Tables.load(spark, sfDir, "documents")
    // the oracle query trains on the bounded reference slice — the
    // nightly-model seam must reproduce it exactly
    val model = TextQueries.trainCcnet(TextQueries.ccnetRef(docs))
    val split = bucketsOf(TextQueries.bucketAgainst(docs, model).collect().toSeq)
    val oracle = bucketsOf(TextQueries.textCcnetBucket(spark, sfDir).collect().toSeq)
    assert(split == oracle, {
      val diff = oracle.keySet.filter(k => split.get(k) != oracle.get(k)).take(3)
      s"split path diverges on ${diff.map(k => (k, split.get(k), oracle.get(k)))}"
    })
  }

  test("unseen language and unseen bigrams bucket instead of dropping") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "en", "a b a b a b"), (1L, "en", "a b a b"),
      (2L, "en", "c d c d c d")).toDF("doc_id", "lang", "text")
    val model = TextQueries.trainCcnet(corpus)
    val out = TextQueries.bucketAgainst(
      Seq((9L, "xx", "q w e r t"), (10L, "en", "z z q q w w")).toDF("doc_id", "lang", "text"),
      model).collect()
    assert(out.length == 2, "every >=2-token doc must be bucketed")
    val byId = out.map(r => r.getLong(0) -> r.getString(r.fieldIndex("bucket"))).toMap
    assert(byId(9L) == "head", "a lang with no cut row falls back to head")
    assert(Set("head", "middle", "tail").contains(byId(10L)))
  }

  test("in-stream buckets equal batch buckets across micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
    val model = TextQueries.trainCcnet(docs)

    val rows = docs.select("doc_id", "lang", "text").as[(Long, String, String)].collect()
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[(Long, String, String)]
    val collected = mutable.ArrayBuffer[Row]()
    val cp = java.nio.file.Files.createTempDirectory("ccnet-bucket-cp").toString
    val q = MicroBatch.start(input.toDF().toDF("doc_id", "lang", "text"), cp) { (batch, _) =>
      val b = TextQueries.bucketAgainst(batch, model)
      collected.synchronized { collected ++= b.collect() }
    }
    input.addData(h1.toSeq: _*); q.processAllAvailable()
    input.addData(h2.toSeq: _*); q.processAllAvailable()
    q.stop()

    val streamed = bucketsOf(collected.toSeq)
    val batch = bucketsOf(TextQueries.bucketAgainst(docs, model).collect().toSeq)
    assert(streamed.size == batch.size, s"${streamed.size} of ${batch.size} docs bucketed")
    assert(streamed == batch, "stream and batch buckets diverge")
  }
}
