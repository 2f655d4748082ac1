package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.RetrievalQueries
import graft.streaming.{MicroBatch, StreamBitextIndex}

/** Continuous bitext-mining state: de docs arriving across micro-batches
  * (with a redelivery) must leave EXACTLY the state a batch build over
  * the same corpus produces — serving from state equals
  * `RetrievalQueries.mineCore` margin-for-margin. The en-side merge is
  * associative (TopKAgg total order), the de-side averages are computed
  * once at arrival against the static en frame. */
class StreamBitextIndexSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-bitext-spec")
  import spark.implicits._

  private def enFrame = (1 to 8).map(i => (i.toLong, s"english document number $i"))
    .toDF("a_id", "text")
    .select(col("a_id"), RetrievalQueries.bitextEmb(col("text")).as("ea"))

  private def deDoc(i: Long) = (100L + i, s"deutsches dokument nummer $i")

  test("stream-maintained state serves exactly the batch mining result; redeliveries no-op") {
    implicit val sqlCtx = spark.sqlContext
    val en = enFrame.localCheckpoint(true)
    val allDe = (1 to 10).map(i => deDoc(i))
    val dir = java.nio.file.Files.createTempDirectory("bitext-idx").toString
    val cp = java.nio.file.Files.createTempDirectory("bitext-idx-cp").toString

    val input = MemoryStream[(Long, String)]
    val q = MicroBatch.start(
      input.toDF().toDF("b_id", "text")
        .select(col("b_id"), RetrievalQueries.bitextEmb(col("text")).as("eb")), cp) {
      (batch, id) =>
        StreamBitextIndex.applyBatch(batch, en, dir, numBuckets = 2, id)
    }
    input.addData(allDe.take(4))
    q.processAllAvailable()
    input.addData(allDe.drop(4))
    q.processAllAvailable()
    q.stop()

    val served = StreamBitextIndex.serve(spark, dir, 2)
      .as[(Long, Long, Int, Double, Int)].collect().toSet

    // a redelivery of the LAST epoch (the only epoch Structured
    // Streaming ever replays — crash between commit and offset write)
    // must change nothing
    val batch1 = allDe.drop(4).toDF("b_id", "text")
      .select(col("b_id"), RetrievalQueries.bitextEmb(col("text")).as("eb"))
    StreamBitextIndex.applyBatch(batch1, en, dir, 2, epochId = 1L)
    val servedAfterReplay = StreamBitextIndex.serve(spark, dir, 2)
      .as[(Long, Long, Int, Double, Int)].collect().toSet
    assert(servedAfterReplay == served, "a redelivered epoch mutated the state")

    val de = allDe.toDF("b_id", "text")
      .select(col("b_id"), RetrievalQueries.bitextEmb(col("text")).as("eb"))
      .localCheckpoint(true)
    val batch = RetrievalQueries.mineCore(en, de, en)
      .as[(Long, Long, Int, Double, Int)].collect().toSet

    assert(served == batch,
      s"served-only=${(served -- batch).take(3)}, batch-only=${(batch -- served).take(3)}")
    assert(batch.nonEmpty, "fixture degenerate: no mined pairs")
    val margins = batch.map(_._4)
    assert(margins.min < margins.max, "fixture degenerate: all margins identical")
  }

  test("IVF forward leg: margins agree exactly where the probed top-k equals the exact top-k; pruning is structural") {
    // the 100 TB mining face vs the exact face on the real corpus: the
    // IVF leg may miss candidates (that's the recall price), but for
    // every probe whose probed lists surfaced the SAME top-k, the
    // margin math must be bit-identical — shared topkAvg chain, shared
    // backward leg, shared marginFrame
    val sf = "/root/testdata/sf0.001"
    def byProbe(rows: Array[(Long, Long, Int, Double, Int)]) =
      rows.groupBy(_._1).view.mapValues(_.sortBy(_._3)).toMap
    val exact = byProbe(SparkEntry.queries("retrieval_bitext_mine")(spark, sf)
      .as[(Long, Long, Int, Double, Int)].collect())
    val ivf = byProbe(SparkEntry.queries("retrieval_bitext_mine_ivf")(spark, sf)
      .as[(Long, Long, Int, Double, Int)].collect())
    assert(ivf.nonEmpty, "IVF mining returned nothing")

    val agreeing = ivf.keys.filter { a =>
      exact.get(a).exists(_.map(_._2).toSeq == ivf(a).map(_._2).toSeq)
    }
    assert(agreeing.nonEmpty,
      "no probe's probed lists surfaced the exact top-k — fixture degenerate for the agreement check")
    agreeing.foreach { a =>
      assert(ivf(a).toSeq == exact(a).toSeq,
        s"probe $a: same top-k but different margins — the margin math diverged between faces")
    }
    // accepted-pair recall vs the exact face (the price of pruning),
    // and the pruning must be real: more cells than NProbe, so every
    // probe structurally skips at least one inverted list
    val exactAcc = exact.values.flatten.filter(_._5 == 1).map(r => (r._1, r._2)).toSet
    val ivfAcc = ivf.values.flatten.filter(_._5 == 1).map(r => (r._1, r._2)).toSet
    info(s"accepted-pair recall: ${(ivfAcc intersect exactAcc).size}/${exactAcc.size} " +
      s"(ivf accepted ${ivfAcc.size})")
    if (exactAcc.nonEmpty)
      assert((ivfAcc intersect exactAcc).nonEmpty, "IVF face recovered zero accepted pairs")
    val docs = Tables.load(spark, sf, "documents")
    val deCells = docs.filter(col("lang") === "de")
      .filter(col("doc_id") % graft.queries.VectorQueries.CentroidStride === 0).count()
    assert(deCells > graft.queries.VectorQueries.NProbe,
      s"only $deCells de cells — NProbe covers everything, nothing is pruned")
  }

  test("crash between the de-side land and the en-side marker: serving stays consistent, replay converges to batch") {
    import graft.tools.Failpoints
    val en = enFrame.localCheckpoint(true)
    val allDe = (1 to 10).map(i => deDoc(i))
    def deFrame(docs: Seq[(Long, String)]) = docs.toDF("b_id", "text")
      .select(col("b_id"), RetrievalQueries.bitextEmb(col("text")).as("eb"))
    val dir = java.nio.file.Files.createTempDirectory("bitext-crash").toString

    StreamBitextIndex.applyBatch(deFrame(allDe.take(5)), en, dir, 2, epochId = 0L)
    val served0 = StreamBitextIndex.serve(spark, dir, 2)
      .as[(Long, Long, Int, Double, Int)].collect().toSet

    // kill the job between land 1 (de averages committed) and land 2
    // (the en merge whose version id IS the epoch marker)
    Failpoints.arm("bitext.between-lands")
    intercept[Failpoints.InjectedCrash] {
      StreamBitextIndex.applyBatch(deFrame(allDe.drop(5)), en, dir, 2, epochId = 1L)
    }
    // mid-crash serving must NOT tear: the landed epoch-1 averages have
    // no forward pairs to join yet, so serve still answers epoch 0
    val servedMid = StreamBitextIndex.serve(spark, dir, 2)
      .as[(Long, Long, Int, Double, Int)].collect().toSet
    assert(servedMid == served0,
      "a crash between the two lands leaked a half-applied epoch into serving")

    // Structured Streaming redelivers the epoch; recovery must converge
    // to exactly the batch answer over the full corpus
    assert(StreamBitextIndex.applyBatch(deFrame(allDe.drop(5)), en, dir, 2, epochId = 1L),
      "the replayed epoch must commit")
    val servedAfter = StreamBitextIndex.serve(spark, dir, 2)
      .as[(Long, Long, Int, Double, Int)].collect().toSet
    val batch = RetrievalQueries.mineCore(en, deFrame(allDe).localCheckpoint(true), en)
      .as[(Long, Long, Int, Double, Int)].collect().toSet
    assert(servedAfter == batch,
      s"replay did not converge: served-only=${(servedAfter -- batch).take(3)}, batch-only=${(batch -- servedAfter).take(3)}")
  }

  test("bootstrap precondition: under MineK de docs serve is empty, mineCore margins are NULL; at MineK the faces converge") {
    // the documented undefined region: topkAvg is a fixed MineK-term
    // operand chain, so with fewer de docs than MineK the margin has no
    // value — mineCore emits forward pairs with NULL margins, serve
    // emits nothing (it refuses to serve NULL margins). One more doc
    // and stream ≡ batch holds margin-for-margin.
    val en = enFrame.localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("bitext-boot").toString
    def deOf(n: Int) = (1 to n).map(i => deDoc(i)).toDF("b_id", "text")
      .select(col("b_id"), RetrievalQueries.bitextEmb(col("text")).as("eb"))
      .localCheckpoint(true)

    val under = RetrievalQueries.MineK - 1
    StreamBitextIndex.applyBatch(deOf(under), en, dir, 2, epochId = 0L)
    assert(StreamBitextIndex.serve(spark, dir, 2).isEmpty,
      "serve must emit nothing while fewer than MineK de docs have landed")
    val coreUnder = RetrievalQueries.mineCore(en, deOf(under), en).collect()
    assert(coreUnder.nonEmpty && coreUnder.forall(_.isNullAt(3)),
      "mineCore under MineK must emit forward pairs with NULL margins")

    // land the doc that completes the top-k: the divergence closes
    StreamBitextIndex.applyBatch(
      Seq(deDoc(RetrievalQueries.MineK.toLong)).toDF("b_id", "text")
        .select(col("b_id"), RetrievalQueries.bitextEmb(col("text")).as("eb")),
      en, dir, 2, epochId = 1L)
    val served = StreamBitextIndex.serve(spark, dir, 2)
      .as[(Long, Long, Int, Double, Int)].collect().toSet
    val batch = RetrievalQueries.mineCore(en, deOf(RetrievalQueries.MineK), en)
      .as[(Long, Long, Int, Double, Int)].collect().toSet
    assert(served.nonEmpty && served == batch,
      s"faces must converge at exactly MineK de docs: served=${served.size}, batch=${batch.size}")
  }
}
