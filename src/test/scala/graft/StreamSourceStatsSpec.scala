package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CurationQueries
import graft.streaming.{MicroBatch, StreamSourceStats}

// top-level: Spark can't encode a case class nested inside the suite
case class SrcDoc(source: String, lang: String, text: String)

/** The continuously maintained per-source dashboard: merged epoch
  * partials must EQUAL the batch dashboard over the same rows (exact
  * sums merge exactly; the KMV distinct sketch is exact below
  * capacity), and a redelivered epoch must change nothing. */
class StreamSourceStatsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-sourcestats-spec")
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Tables.load(spark, sf, "documents")
    .select("source", "lang", "text").as[SrcDoc].collect().toSeq

  test("merged epoch partials equal the batch dashboard over the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("srcstats").toString
    val input = MemoryStream[SrcDoc]
    val cp = Files.createTempDirectory("srcstats-cp").toString
    val q = MicroBatch.start(input.toDF(), cp) { (batch, id) =>
      MicroBatch.landEpoch(StreamSourceStats.partials(batch), dir, id)
    }
    try {
      input.addData(docs.take(docs.size / 3))
      q.processAllAvailable()
      input.addData(docs.drop(docs.size / 3))
      q.processAllAvailable()
    } finally q.stop()

    val dash = StreamSourceStats.dashboard(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5), r.getDouble(6))).toMap
    val batch = CurationQueries.sourceStats(docs.toDF())
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(dash.keySet == batch.keySet)
    batch.foreach { case (src, (nDocs, tokens, dupE6, nLangs, qE6)) =>
      val (dN, dTok, dDistinct, dDup, dLangs, dQ) = dash(src)
      assert(dN == nDocs, s"$src n_docs: $dN != $nDocs")
      assert(dTok == tokens, s"$src tokens: $dTok != $tokens")
      assert(dLangs == nLangs, s"$src n_langs: $dLangs != $nLangs")
      // exact-integer merge ⇒ the quality double chain is bit-identical,
      // so its floor-×1e6 fixed point matches the batch column exactly
      assert(math.floor(dQ * 1e6).toLong == qE6, s"$src quality_e6: $dQ vs $qE6")
      // below sketch capacity the KMV estimate is the exact count; the
      // batch dup_e6 is the floor of the same ratio ×1e6
      assert(math.abs(dDup - dupE6 / 1e6) < 2e-6, s"$src dup: $dDup vs e6 $dupE6")
      assert(dDistinct == math.round(dDistinct).toDouble, s"$src est not integral")
    }
  }

  test("a redelivered epoch is skipped and changes nothing") {
    val dir = Files.createTempDirectory("srcstats2").toString
    val slice = docs.take(40).toDF()
    assert(MicroBatch.landEpoch(StreamSourceStats.partials(slice), dir, 0L))
    val before = StreamSourceStats.dashboard(spark, dir).collect().toSeq
    assert(!MicroBatch.landEpoch(StreamSourceStats.partials(slice), dir, 0L),
      "redelivered epoch landed twice")
    val after = StreamSourceStats.dashboard(spark, dir).collect().toSeq
    assert(before == after)
  }
}
