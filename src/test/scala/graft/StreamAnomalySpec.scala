package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamAnomaly

/** Streaming drift detection: watermarked hourly counts scored on
  * window close against a batch-trained baseline, with the z arithmetic
  * shared with the batch `events_anomaly` (stream ≡ direct computation
  * on the same counts). */
class StreamAnomalySpec extends AnyFunSuite {

  // window starts align to UTC epoch hours while Timestamp.valueOf uses
  // the JVM default zone — pin them together so the spec is not
  // machine-timezone-dependent
  java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
  lazy val spark = GraftSession.build(4, "stream-anomaly-spec")
  import spark.implicits._

  case class Ev(ts: Timestamp, event_type: String)
  private def at(day: Int, hour: Int, min: Int = 0) =
    Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:$min%02d:00")

  // landed log: 24 hourly buckets of exactly 10 "click" events → a
  // baseline with mean 10, variance 0... variance 0 never scores, so
  // alternate 9/11 to get a tight but nonzero spread
  private def landedLog: org.apache.spark.sql.DataFrame = {
    val rows = for {
      h <- 0 until 24
      i <- 0 until (if (h % 2 == 0) 9 else 11)
    } yield (at(1, h, i % 60).getTime * 1000000L, "click")
    rows.toDF("ts", "event_type")
  }

  test("stream windows score against the batch baseline; spikes flag, normal hours do not") {
    implicit val sqlCtx = spark.sqlContext
    val base = StreamAnomaly.baseline(landedLog).cache()
    val b = base.head()
    assert(b.getLong(1) == 24, s"baseline buckets: $b")

    val input = MemoryStream[Ev]
    val out = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val cp = java.nio.file.Files.createTempDirectory("anomaly-cp").toString
    val q = StreamAnomaly.scored(input.toDF(), base, cp) { (scored, _) =>
      out ++= scored.collect()
    }

    // day-2 hour 05: a normal hour (10 events); hour 06: a 100-event
    // spike; hour 09 only advances the watermark past both
    input.addData((0 until 10).map(i => Ev(at(2, 5, i), "click")): _*)
    q.processAllAvailable()
    input.addData((0 until 100).map(i => Ev(at(2, 6, i % 60), "click")): _*)
    q.processAllAvailable()
    assert(out.isEmpty, "append mode must hold windows until the watermark closes them")
    input.addData(Ev(at(2, 9), "click"))
    q.processAllAvailable()
    q.stop()

    val byHour = out.map(r => r.getTimestamp(1).toString -> r).toMap
    assert(byHour.size == 2, s"exactly the two closed windows: ${out.toSeq}")
    val normal = byHour("2024-01-02 05:00:00.0")
    val spike = byHour("2024-01-02 06:00:00.0")
    assert(!normal.getBoolean(4), s"normal hour flagged: $normal")
    assert(spike.getBoolean(4), s"spike not flagged: $spike")

    // stream z must equal the direct computation through the SAME
    // scorer over the same counts (stream ≡ batch arithmetic)
    val direct = StreamAnomaly.scoreAgainst(
        Seq(("click", at(2, 6), 100L)).toDF("event_type", "win_start", "n"), base)
      .head().getDouble(3)
    assert(spike.getDouble(3) == direct,
      s"stream z ${spike.getDouble(3)} != direct z $direct")
  }

  test("types absent from the baseline score NULL and never flag") {
    val base = StreamAnomaly.baseline(landedLog)
    val scored = StreamAnomaly.scoreAgainst(
      Seq(("purchase", at(2, 6), 5000L)).toDF("event_type", "win_start", "n"), base)
    val r = scored.head()
    assert(r.isNullAt(3), s"unseen type must score NULL: $r")
    assert(!r.getBoolean(4), s"unseen type must not flag: $r")
  }
}
