package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{GraftSession, SparkEntry}

/** Benchmark process: one workload, one seed, one result line.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --data <fixture root>
  *        perfbench.Main --oracle-sql <out.json>
  *        perfbench.Main --selftest <dir>
  *
  * The last stdout line is `RESULT {...}` with the raw metrics; `run.py`
  * adds the oracle check of the deck's results and prints the final
  * record. An unknown workload exits 2 before any Spark work. */
object Main {

  /** Flag mixes: among changes to live keys, U and D in the proportion
    * of the repo's own change-log fixtures (`CdcQueries.mergeComposite`
    * updates every 3rd lineitem key and deletes every 7th, U:D = 7:3;
    * `CdcQueries.ordersChangeLog` every 3rd and every 5th order, 5:3),
    * with as many inserts as deletes so the table keeps its size over a
    * run. */
  val Workloads: Map[String, CdcSpec] = Map(
    // 60k-row lineitem target at the default 256 buckets; 16-row ticks,
    // as the probe that found the fixed per-trigger cost; six hours of
    // 60 s flushes of this table (a day would add 8 s of set-up to every
    // run), and 8 sibling tables with 4 000 files between them, the
    // probe's count of other-table files
    "cdc_narrow" -> CdcSpec("sf0.01", "lineitem", LongIntKey("l_orderkey", "l_linenumber"),
      tickRows = 16, insertShare = 3.0 / 13, deleteShare = 3.0 / 13, zipf = false,
      historyFiles = 360, siblings = 8, siblingFiles = 500, ddl = false),
    // 15k-row orders target at 32 buckets; 1 000-row Zipf-skewed ticks
    // (the probe's 10 000-row tick scaled with the table from sf0.1)
    // that rewrite every bucket; an hour of history; one ADD COLUMN
    // after the warm-up tick
    "cdc_wide" -> CdcSpec("sf0.01", "orders", LongKey("o_orderkey"),
      tickRows = 1000, insertShare = 3.0 / 11, deleteShare = 3.0 / 11, zipf = true,
      historyFiles = 60, siblings = 0, siblingFiles = 0, ddl = true,
      numBuckets = 32))

  /** Read-side queries over the same `ChangeApply` code the ticks write
    * through, plus a scan-aggregate control. */
  val DeckQueries: Seq[String] = Seq(
    "cdc_merge_composite", "cdc_merge_into", "cdc_dedup_latest", "q1_pricing")
  val DeckSf = "sf0.01"

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opt.get("oracle-sql").foreach { out =>
      Files.writeString(Paths.get(out), json(DeckQueries.map(n => n -> SparkEntry.oracleSql(n)).toMap))
      return
    }
    opt.get("selftest").foreach { dir => sys.exit(GenSelfTest.run(dir)) }

    val name = opt.getOrElse("workload", "")
    val spec = Workloads.getOrElse(name, {
      System.err.println(s"unknown workload '$name' (have: ${Workloads.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    val unknownQueries = DeckQueries.filterNot(SparkEntry.queries.contains)
    if (unknownQueries.nonEmpty) {
      System.err.println(s"unknown deck queries: ${unknownQueries.mkString(", ")}")
      sys.exit(2)
    }
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work"))
    val data = opt("data")
    Files.createDirectories(work)

    val spark = GraftSession.build(Runtime.getRuntime.availableProcessors(), s"perfbench-$name")
    val trace = if (tracing) Some(new Trace(spark)) else None
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    try {
      val deck = new Deck(spark, s"$data/$DeckSf", DeckQueries, work.resolve("deck").toString, trace)
      val cdc = new Cdc(spark, spec, data, work.resolve("cdc"), seed, trace)
      cdc.run(seconds, jvmStartNs, deck)
      attempted += cdc.attempted
      failed += cdc.failed
      problems ++= cdc.problems
      attempted += DeckQueries.size
      failed += deck.errors.size
      problems ++= deck.errors.map { case (n, e) => s"query $n failed: $e" }
      val med = deck.medians
      if (tracing) {
        metrics ++= cdc.layer
        metrics ++= deck.layer
        if (med.size == DeckQueries.size) metrics("deck_s") = med.values.sum
        DeckQueries.filter(med.contains).foreach(n => metrics(s"q.${n}_s") = med(n))
      } else {
        metrics("setup_s") = cdc.setupS
        metrics ++= cdc.out
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        failed += 1
        attempted = attempted.max(1)
        problems += s"${e.getClass.getSimpleName}: ${e.getMessage}"
    } finally {
      trace.foreach(_.detach())
      spark.stop()
    }
    println("RESULT " + json(Map(
      "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics,
      "problems" -> problems, "deck" -> DeckQueries)))
  }
}
