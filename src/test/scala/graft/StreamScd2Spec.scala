package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CdcQueries
import graft.streaming.{MicroBatch, StreamScd2}

// top-level: Spark can't encode a case class nested inside the suite
case class Scd2Chg(o_orderkey: Long, o_orderstatus: String,
    o_totalprice: Double, tidb2dw_flag: String, tidb2dw_commit_ts: Long)

/** The continuously maintained SCD2 history must EQUAL the batch
  * `cdc_scd2` recompute over the same change log — the closing of a
  * version opened in an EARLIER epoch is the incremental-only code path
  * the batch query's within-log window never exercises — and a
  * redelivered epoch must change nothing. */
class StreamScd2Spec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "stream-scd2-spec")
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private lazy val log = CdcQueries.ordersChangeLog(spark, sf)
    .select(col("o_orderkey").cast("long"), col("o_orderstatus"),
      col("o_totalprice").cast("double"), col("tidb2dw_flag"),
      col("tidb2dw_commit_ts").cast("long"))
    .as[Scd2Chg].collect().toSeq

  private def historyRows(dir: String): Set[(Long, Long, Option[Long], Int, String, Double)] =
    StreamScd2.history(spark, dir, "o_orderkey")
      .select(col("o_orderkey").cast("long"), col("valid_from").cast("long"),
        col("valid_to").cast("long"), col("is_current"),
        col("o_orderstatus"), col("o_totalprice").cast("double"))
      .as[(Long, Long, Option[Long], Int, String, Double)]
      .collect().toSet

  test("three-epoch incremental history equals the batch scd2 recompute") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("scd2").toString
    val input = MemoryStream[Scd2Chg]
    val cp = Files.createTempDirectory("scd2-cp").toString
    val q = MicroBatch.start(input.toDF(), cp) { (batch, id) =>
      StreamScd2.applyBatch(spark, dir, batch, "o_orderkey", 8, id)
    }
    try {
      (1L to 3L).foreach { ts =>
        input.addData(log.filter(_.tidb2dw_commit_ts == ts))
        q.processAllAvailable()
      }
    } finally q.stop()

    val expected = CdcQueries.scd2(spark, sf)
      .select(col("o_orderkey").cast("long"), col("valid_from").cast("long"),
        col("valid_to").cast("long"), col("is_current"),
        col("o_orderstatus"), col("o_totalprice").cast("double"))
      .as[(Long, Long, Option[Long], Int, String, Double)]
      .collect().toSet
    val actual = historyRows(dir)
    assert(actual == expected)
    // the cross-epoch close actually fired: some version opened in epoch
    // 1 must be closed by an epoch-2 or epoch-3 event
    assert(actual.exists { case (_, from, to, _, _, _) => from == 1L && to.exists(_ > 1L) })
  }

  test("a redelivered epoch repoints and changes nothing") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("scd2redeliver").toString
    val e1 = log.filter(_.tidb2dw_commit_ts == 1L)
    val e2 = log.filter(_.tidb2dw_commit_ts == 2L)
    assert(StreamScd2.applyBatch(spark, dir, e1.toDF(), "o_orderkey", 8, 0L))
    assert(StreamScd2.applyBatch(spark, dir, e2.toDF(), "o_orderkey", 8, 1L))
    val before = historyRows(dir)
    assert(!StreamScd2.applyBatch(spark, dir, e2.toDF(), "o_orderkey", 8, 1L))
    assert(historyRows(dir) == before)
  }

  // Crash between commit and checkpoint-offset write replays the epoch.
  // When that epoch carried MULTIPLE timestamps on one key, the replayed
  // batch's first ts precedes the open version the epoch itself wrote —
  // the ordering guard must not read the epoch's own writes as
  // out-of-order input (it must short-circuit on the version marker
  // first), or the stream crash-loops on a legitimate replay.
  test("replay of a committed multi-ts epoch short-circuits on the marker, not the guard") {
    val dir = Files.createTempDirectory("scd2replaymulti").toString
    val e0 = Seq(Scd2Chg(7L, "O", 1.0, "I", 1L))
    val e1 = Seq(Scd2Chg(7L, "O", 2.0, "U", 10L), Scd2Chg(7L, "F", 3.0, "U", 20L))
    assert(StreamScd2.applyBatch(spark, dir, e0.toDF(), "o_orderkey", 8, 0L))
    assert(StreamScd2.applyBatch(spark, dir, e1.toDF(), "o_orderkey", 8, 1L))
    val before = historyRows(dir)
    assert(!StreamScd2.applyBatch(spark, dir, e1.toDF(), "o_orderkey", 8, 1L))
    assert(historyRows(dir) == before)
    // the guard itself still fires on GENUINE out-of-order delivery
    val late = Seq(Scd2Chg(7L, "X", 4.0, "U", 15L))
    intercept[IllegalArgumentException] {
      StreamScd2.applyBatch(spark, dir, late.toDF(), "o_orderkey", 8, 2L)
    }
  }
}
