package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.AuditMetrics

/** The solo-re-measure normalization core: a suspect's raw time on a
  * different box means nothing; time / (median control ratio) does.
  * These pin the pure pieces so the tooling can't silently mis-read
  * its own artifact format, and the per-query measurement step. */
class BenchNormSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "bench-norm-spec")

  test("boxFactor is the median control ratio; 1.0 with no controls") {
    assert(Bench.boxFactor(Nil) == 1.0)
    assert(Bench.boxFactor(Seq(1.5)) == 1.5)
    // median picks the middle, robust to one outlier control
    assert(Bench.boxFactor(Seq(1.4, 1.5, 9.0)) == 1.5)
    assert(Bench.boxFactor(Seq(9.0, 1.4, 1.5)) == 1.5)
    // even-sized lists average the middle pair — with one control under
    // dispute only two ratios remain, and taking the upper-middle would
    // hand the calibration to whichever control ran slower
    assert(Bench.boxFactor(Seq(1.0, 2.0)) == 1.5)
    assert(Bench.boxFactor(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("parseTimings round-trips the artifact format Bench writes") {
    val txt =
      """{
        | "metric":"total","value":7.7,"unit":"sec","failed":0,"count":2,"sf":"/root/testdata/sf0.1",
        | "queries":{
        |  "q1_pricing":0.421327415,
        |  "cdc_merge_into":1.685109846
        | },
        | "errors":{
        |
        | }
        |}""".stripMargin
    val (sf, m) = Bench.parseTimings(txt)
    assert(sf.contains("/root/testdata/sf0.1"))
    assert(m.get("q1_pricing").contains(0.421327415))
    assert(m.get("cdc_merge_into").contains(1.685109846))
    // header numerics before the queries block must not pollute lookups
    assert(!m.contains("value") && !m.contains("count"))
  }

  test("parseTimings reads only the queries object: the cost block and solo report leave it exact") {
    val head =
      """{
        | "metric":"total","value":7.7,"unit":"sec","failed":0,"count":2,"runs":3,"sf":"/data/sf0.1",
        | "queries":{
        |  "q1_pricing":0.421327415,
        |  "cdc_merge_into":1.685109846
        | },
        | "errors":{
        |
        | }""".stripMargin
    val cost = Bench.QueryRun(Seq(0.43, 0.42, 0.41), rows = 4,
      AuditMetrics(input = 1024, shuffleWrite = 2048, shuffleRead = 2048, tasks = 12,
        stages = 4, maxTaskSw = 512, jobs = 3))
    val withCost =
      s"""$head,
         | "cost":{
         |  "q1_pricing":${Bench.costRecord(cost)},
         |  "cdc_merge_into":${Bench.costRecord(cost)}
         | },
         | "box_factor":1.48,"control_ratios":[1.48],"normalized":{"q1_pricing":{"solo":0.4,"normalized":0.3}}
         |}
         |""".stripMargin
    assert(withCost.contains("\"jobs\":3") && withCost.contains("\"reps\":[0.43,0.42,0.41]"))
    assert(Bench.parseTimings(withCost) == Bench.parseTimings(head + "\n}\n"))
    assert(Bench.parseTimings(withCost)._2.keySet == Set("q1_pricing", "cdc_merge_into"))
  }

  test("runQuery unpersists exactly the RDDs the query persisted") {
    val kept = spark.sparkContext.parallelize(1 to 100).persist()
    kept.count()
    // strongly held, so only an explicit unpersist (never the
    // ContextCleaner) can drop it
    var frame: DataFrame = null
    var created = Set.empty[Int]
    val fn = (s: SparkSession, _: String) => {
      val before = s.sparkContext.getPersistentRDDs.keySet
      frame = s.range(1000).selectExpr("id % 7 AS k").localCheckpoint(false)
      created ++= s.sparkContext.getPersistentRDDs.keySet -- before
      frame.groupBy("k").count()
    }
    val r = Bench.runQuery(spark, "unused", fn, runs = 2)
    assert(created.nonEmpty, "the query must persist its checkpointed frame")
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(created.intersect(after).isEmpty, s"checkpointed RDDs $created outlived the query")
    assert(after.contains(kept.id), "an RDD persisted before the query was unpersisted")
    assert(r.reps.size == 2 && r.reps.forall(_ > 0) && r.rows == 7)
    assert(r.cost.jobs > 0 && r.cost.stages > 0 && r.cost.tasks > 0 && r.cost.shuffleWrite > 0)
    kept.unpersist(blocking = true)
  }

  test("controls are registered queries and structurally diverse") {
    Bench.Controls.foreach { c =>
      assert(SparkEntry.queries.contains(c), s"control $c is not a registered query")
    }
    assert(Bench.Controls.distinct.size == Bench.Controls.size)
  }
}
