package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{MicroBatch, StreamSemanticDedup}

// top-level: Spark can't encode a case class nested inside the suite
case class SemVec(vec_id: Long, embedding: Array[Float])

/** Streaming semantic dedup vs the landed embedding corpus: exact
  * re-submissions must match their source near sim 1, the stream must
  * equal the batch matcher row-for-row, and an impossible threshold
  * must emit nothing. */
class StreamSemanticDedupSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-semdedup-spec")
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private lazy val corpus = {
    graft.functions.VectorFunctions.register(spark)
    Tables.load(spark, sf, "embeddings").cache()
  }
  private lazy val idx = StreamSemanticDedup.buildIndex(corpus)

  /** New arrivals = exact copies of every 7th corpus vector, re-id'd. */
  private def resubmissions = corpus.filter(col("vec_id") % 7 === 0)
    .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))

  test("exact re-submissions match the corpus at sim ~ 1") {
    val out = StreamSemanticDedup.matchBatch(resubmissions, idx, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty, "no re-submission matched its own source")
    out.foreach { case (nid, _, sim) =>
      assert(sim >= 0.999, s"match for $nid below the exact-copy floor: $sim")
    }
    // the overwhelming majority must point at their own source (ties at
    // sim=1 with a bit-identical OTHER corpus vector are legal)
    val selfHits = out.count { case (nid, dup, _) => dup == nid - 100000L }
    assert(selfHits >= out.length * 0.9,
      s"only $selfHits/${out.length} re-submissions matched their source")
    // every matched vector appears once (one best match per arrival)
    assert(out.map(_._1).distinct.length == out.length)
  }

  test("stream ≡ batch: foreachBatch emits exactly the batch matcher's rows") {
    implicit val sqlCtx = spark.sqlContext
    val rows = resubmissions.as[SemVec].collect().toSeq
    val input = MemoryStream[SemVec]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long)]()
    val cp = java.nio.file.Files.createTempDirectory("semdedup-cp").toString
    val q = MicroBatch.start(input.toDF(), cp) { (batch, _) =>
      got ++= StreamSemanticDedup.matchBatch(batch, idx, threshold = 0.5).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    }
    try {
      input.addData(rows.take(rows.size / 2))
      q.processAllAvailable()
      input.addData(rows.drop(rows.size / 2))
      q.processAllAvailable()
    } finally q.stop()
    val direct = StreamSemanticDedup.matchBatch(resubmissions, idx, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.sorted.toSeq == direct.sorted.toSeq,
      s"stream (${got.size}) and batch (${direct.length}) matches diverge")
  }

  test("an unreachable threshold emits nothing") {
    assert(StreamSemanticDedup.matchBatch(resubmissions, idx, threshold = 1.5).isEmpty)
  }
}
