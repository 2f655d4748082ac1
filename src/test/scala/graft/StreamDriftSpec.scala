package graft

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QualityQueries
import graft.streaming.MicroBatch

/** Stream ≡ batch for drift scoring, and the monitor actually ALARMS:
  * an in-distribution micro-batch scores a low Σχ² against the trained
  * baseline, a vocabulary-shifted batch scores decisively higher, and
  * the in-flight scores equal the batch scorer's on the same rows. */
class StreamDriftSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-drift-spec")
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("in-stream chi2 equals batch chi2; shifted vocabulary alarms") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
    val base = QualityQueries.dimCounts(docs).cache()

    // batch 1: a slice of the training corpus (in-distribution);
    // batch 2: the same slice with an out-of-vocabulary token storm
    val inDist = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val shifted = inDist.map { case (id, t) =>
      (id + 100000L, t + (" driftstorm" * 20))
    }

    val input = MemoryStream[(Long, String)]
    val perBatch = mutable.Map[Long, Array[Row]]()
    def scoreBatch(batch: org.apache.spark.sql.DataFrame) =
      QualityQueries.chi2Against(QualityQueries.dimCounts(batch), base)
    val cp = java.nio.file.Files.createTempDirectory("drift-cp").toString
    val q = MicroBatch.start(input.toDF().toDF("doc_id", "text"), cp) { (batch, id) =>
      val scored = scoreBatch(batch)
      perBatch.synchronized { perBatch(id) = scored.collect() }
    }
    input.addData(inDist.toSeq: _*); q.processAllAvailable()
    input.addData(shifted.toSeq: _*); q.processAllAvailable()
    q.stop()

    def total(rows: Array[Row]) = rows.map(_.getAs[Double]("chi2")).sum
    assert(perBatch.keySet == Set(0L, 1L), s"epochs: ${perBatch.keySet}")

    // stream ≡ batch on the same rows
    val batchScored = scoreBatch(inDist.toSeq.toDF("doc_id", "text")).collect()
    val streamMap = perBatch(0L).map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val batchMap = batchScored.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(streamMap == batchMap, "stream and batch chi2 diverge")

    // the alarm property
    val inChi = total(perBatch(0L))
    val shiftChi = total(perBatch(1L))
    assert(shiftChi > 5.0 * inChi,
      f"shifted batch chi2 $shiftChi%.1f not decisively above in-dist $inChi%.1f")
  }
}
